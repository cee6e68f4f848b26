package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft._
import graft.operators.PortableHash
import graft.operators.PortableHash._

/** LLM-training-data pipeline operators (SURVEY §2.3 / BASELINE north_star):
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN)
  * over `embeddings`, text analysis (language-ID, quality scoring, token
  * counting, fingerprinting) over `documents`, and multimodal binary
  * columns.
  *
  * Scale design: every candidate-generation step is BUCKETED — LSH band
  * keys for minhash, sign-of-hyperplane buckets for vectors, (lang,source)
  * buckets for n-gram Jaccard — so pair generation is an equi-join on the
  * bucket key, never an all-pairs crossJoin (same discipline as
  * operators/AsOfRangeJoins.scala). Per-document feature extraction is
  * pure column arithmetic inside whole-stage codegen: no UDFs, no shuffle.
  *
  * Determinism: all pseudo-randomness (minhash permutations, hyperplanes)
  * is explicit integer arithmetic from operators/PortableHash, computable
  * bit-identically by the DuckDB oracle.
  */
object Llm extends QueryGroup {

  // -- deduplication ---------------------------------------------------

  /** Exact dedup by content hash. The corpus has no raw duplicates, so the
    * input is documents ⊎ its first 50 docs — a deterministic dup-injection
    * using only the test tables — and the query returns each duplicated
    * content group with its keeper (min doc_id) and multiplicity. */
  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val dup = d.orderBy(col("doc_id")).limit(50)
      d.union(dup)
        .groupBy(md5(col("text")).as("content_key"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select("content_key", "keeper_id", "n_copies")
        .orderBy("keeper_id")
    },
    Some("""SELECT md5(text) AS content_key, min(doc_id) AS keeper_id,
              count(*) AS n_copies
            FROM (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT doc_id, text FROM
                    (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50))
            GROUP BY 1 HAVING count(*) > 1 ORDER BY keeper_id"""))

  /** Canonicalized exact dedup: hash of the sorted distinct token set.
    * 54 of the 500 sf0.01 docs collapse into shared groups — the
    * word-salad corpus has real normalized duplicates. dup_ids carries the
    * full group for audit. */
  private val qDedupNorm = Q(
    "q_dedup_norm",
    (s, dir) => table(s, dir, "documents")
      .withColumn("content_key",
        md5(concat_ws(" ", array_sort(array_distinct(split(lower(col("text")), " "))))))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"),
        concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("dup_ids"))
      .filter(col("n_copies") > 1)
      .select("content_key", "keeper_id", "n_copies", "dup_ids")
      .orderBy("keeper_id"),
    Some("""SELECT md5(list_aggregate(list_sort(list_distinct(string_split(lower(text), ' '))),
                     'string_agg', ' ')) AS content_key,
              min(doc_id) AS keeper_id, count(*) AS n_copies,
              list_aggregate(list_transform(list_sort(list(doc_id)),
                x -> CAST(x AS VARCHAR)), 'string_agg', ',') AS dup_ids
            FROM documents
            GROUP BY 1 HAVING count(*) > 1 ORDER BY keeper_id"""))

  /** MinHash + LSH near-dup detection: word 3-gram shingles → 16-wide
    * minhash signature → 4 bands of 4 → candidate pairs = equi-join on
    * (band, band_key). Estimated Jaccard = matching signature fraction.
    * The band join is the 100 TB path: candidates are generated per
    * bucket, never all-pairs.
    *
    * Perf shape: shingle hashing and the 16-wide signature are each ONE
    * native codegen'd kernel (graft_gramhashes / graft_minhashsig) — a
    * pure per-row projection. No exploded (doc, shingle) rows, no hash
    * aggregation, and crucially no repartition barrier: the corpus is
    * never shuffled before the (tiny) band table. That is the 100 TB
    * shape — signatures stream out of the scan. */
  private val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val sig = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 3)
        .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
        .select("doc_id", "sg")
      val bands = minhashBands(s, sig).select("doc_id", "band_id", "band_key")
      val pairs = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("sg").as("sga")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sg").as("sgb")), "doc_b")
        .withColumn("est_jaccard",
          aggregate(zip_with(col("sga"), col("sgb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x) / lit(16.0))
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH toks AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl FROM documents),
             tok3 AS (SELECT doc_id, tl FROM toks WHERE len(tl) >= 3),
             th AS (
               SELECT doc_id, list_transform(tl, t -> ${charHashSql("t")}) AS th
               FROM tok3),
             hashed AS (
               SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
               FROM th),
             sig AS (
               SELECT doc_id, ${minhashSigSql("hs", 16)} AS sg FROM hashed),
             bands AS (
               SELECT doc_id, j AS band_id,
                 list_aggregate(list_transform(sg[j*4+1:j*4+4],
                   x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS band_key
               FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) planes),
             pairs AS (
               SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
                 ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id)
             SELECT p.doc_a, p.doc_b,
               CAST(list_sum(list_transform(generate_series(1, 16),
                 i -> CASE WHEN sa.sg[i] = sb.sg[i] THEN 1 ELSE 0 END)) AS BIGINT)
                 / 16.0 AS est_jaccard
             FROM pairs p
             JOIN sig sa ON sa.doc_id = p.doc_a
             JOIN sig sb ON sb.doc_id = p.doc_b
             ORDER BY doc_a, doc_b"""))

  /** Transitive near-dup CLUSTERING — pairwise candidates promoted to
    * connected components (operators/ConnectedComponents): similarity
    * pairs form a graph, and "keep one doc per near-dup cluster" is one
    * survivor per COMPONENT — per-pair drops over-delete chains (A~B,
    * B~C, A≁C must keep one of three, not drop both B and C). Corpus =
    * documents ⊎ two injected copies of the first 50 docs (offsets 10M /
    * 20M), so every injected original forms a ≥3-doc component alongside
    * whatever organic near-dup pairs exist. Edges = the same banded
    * minhash candidates as q_dedup_minhash at est_jaccard ≥ 0.5; min-label
    * propagation runs O(component diameter) rounds of one shuffle each.
    * Oracle = the pair SQL + a RECURSIVE CTE closure — DuckDB recomputes
    * the same fixpoint independently. */
  /** (vertices, candidate edges) of the near-dup graph — shared by
    * q_dedup_clusters and its durable-checkpoint twin so the two gates
    * cannot drift apart on candidate generation. */
  private def dedupClusterGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      import graft.functions.GraftFunctions._
      val base = table(s, dir, "documents").select("doc_id", "text")
      val first50 = base.orderBy(col("doc_id")).limit(50)
      val corpus = base
        .unionAll(first50.select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        .unionAll(first50.select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      val sig = corpus
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 3)
        .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
        .select("doc_id", "sg")
      val bands = minhashBands(s, sig)
      val edges = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("est_jaccard",
          aggregate(zip_with(col("a.sg"), col("b.sg"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x) / lit(16.0))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .distinct()
      val verts = corpus.select(col("doc_id").as("id"))
      (verts, edges)
  }

  private def clusterSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("component"))

  private val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, dir) => {
      val (verts, edges) = dedupClusterGraph(s, dir)
      // round shuffles sized to the small dedup graph (caller-knob rule,
      // Graft.withShufflePartitions doc)
      clusterSizes(graft.core.Graft.withShufflePartitions(s, 8) {
        graft.operators.ConnectedComponents.components(verts, edges)
      })
    },
    Some(dedupClustersOracle))

  /** The same clustering gate under the DURABLE round policy
    * (`Fixpoint.Durable`): every label-propagation round commits through
    * the store, so a lost executor is a stage retry and a lost driver
    * resumes from the last committed round — the 100 TB posture for
    * iteration depth × fleet size (see DurableIterationKillSpec for the
    * executor-massacre proof). The checkpoint dir is wiped per run
    * ([[graft.core.Graft.artifactDir]]): stale converged markers from a
    * previous corpus must never short-circuit a fresh one. Same oracle
    * as q_dedup_clusters — durability must not change a single row. */
  private val qDedupClustersDurable = Q(
    "q_dedup_clusters_durable",
    (s, dir) => {
      val (verts, edges) = dedupClusterGraph(s, dir)
      val ckpt = artifactDir(s, "ckpt", "q_dedup_clusters_durable")
      clusterSizes(graft.core.Graft.withShufflePartitions(s, 8) {
        graft.operators.ConnectedComponents.components(verts, edges, 20,
          graft.operators.Fixpoint.Durable(ckpt))
      })
    },
    Some(dedupClustersOracle))

  private lazy val dedupClustersOracle: String =
    (s"""WITH RECURSIVE corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 10000000, text FROM
                 (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)
               UNION ALL
               SELECT doc_id + 20000000, text FROM
                 (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)),
             toks AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl FROM corpus),
             tok3 AS (SELECT doc_id, tl FROM toks WHERE len(tl) >= 3),
             th AS (
               SELECT doc_id, list_transform(tl, t -> ${charHashSql("t")}) AS th
               FROM tok3),
             hashed AS (
               SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
               FROM th),
             sig AS (
               SELECT doc_id, ${minhashSigSql("hs", 16)} AS sg FROM hashed),
             bands AS (
               SELECT doc_id, j AS band_id, sg,
                 list_aggregate(list_transform(sg[j*4+1:j*4+4],
                   x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS band_key
               FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) planes),
             epairs AS (
               SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
                 ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
               WHERE CAST(list_sum(list_transform(generate_series(1, 16),
                 i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) AS BIGINT)
                 / 16.0 >= 0.5),
             edges AS (
               SELECT doc_a AS src, doc_b AS dst FROM epairs
               UNION
               SELECT doc_b AS src, doc_a AS dst FROM epairs),
             reach(id, label) AS (
               SELECT doc_id, doc_id FROM corpus
               UNION
               SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
             comp AS (
               SELECT id, min(label) AS component FROM reach GROUP BY id)
             SELECT component, count(*) AS n_docs
             FROM comp GROUP BY component HAVING count(*) > 1
             ORDER BY component""")

  /** TRIANGLE enumeration over the near-dup graph — the cluster-density
    * primitive that distinguishes a tight k-clique of mutual duplicates
    * from a loose chain the same component count would hide. Graph =
    * the q_dedup_clusters corpus (documents ⊎ two injected copies of the
    * first 50 docs, so every injected original closes a 3-clique) with
    * the same banded-minhash edges at est_jaccard ≥ 0.5.
    *
    * Scale shape: degree-ordered orientation + wedge-close joins —
    * see [[graft.operators.Triangles]] for the O(√m) out-degree bound
    * that caps the wedge join's fan-out on hub-and-spoke graphs.
    *
    * The oracle orients by id (a < b < c) instead — semantically
    * identical output (each triangle emitted once, vertices sorted),
    * deliberately NOT the same join order, so the gate cross-checks the
    * orientation argument rather than mirroring it. */
  private val qGraphTriangles = Q(
    "q_graph_triangles",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val base = table(s, dir, "documents").select("doc_id", "text")
      val first50 = base.orderBy(col("doc_id")).limit(50)
      val corpus = base
        .unionAll(first50.select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        .unionAll(first50.select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      val sig = corpus
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 3)
        .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
        .select("doc_id", "sg")
      val bands = minhashBands(s, sig)
      val edges = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("est_jaccard",
          aggregate(zip_with(col("a.sg"), col("b.sg"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x) / lit(16.0))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("a.doc_id").as("ea"), col("b.doc_id").as("eb"))
        .distinct()
      graft.operators.Triangles.triangles(edges)
        .orderBy("v_lo", "v_mid", "v_hi")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 10000000, text FROM
                 (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)
               UNION ALL
               SELECT doc_id + 20000000, text FROM
                 (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)),
             toks AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl FROM corpus),
             tok3 AS (SELECT doc_id, tl FROM toks WHERE len(tl) >= 3),
             th AS (
               SELECT doc_id, list_transform(tl, t -> ${charHashSql("t")}) AS th
               FROM tok3),
             hashed AS (
               SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
               FROM th),
             sig AS (
               SELECT doc_id, ${minhashSigSql("hs", 16)} AS sg FROM hashed),
             bands AS (
               SELECT doc_id, j AS band_id, sg,
                 list_aggregate(list_transform(sg[j*4+1:j*4+4],
                   x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS band_key
               FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) planes),
             epairs AS (
               SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM bands a JOIN bands b
                 ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
               WHERE CAST(list_sum(list_transform(generate_series(1, 16),
                 i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) AS BIGINT)
                 / 16.0 >= 0.5)
             SELECT e1.doc_a AS v_lo, e1.doc_b AS v_mid, e2.doc_b AS v_hi
             FROM epairs e1
             JOIN epairs e2 ON e2.doc_a = e1.doc_b
             JOIN epairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
             ORDER BY 1, 2, 3"""))

  /** SimHash fingerprints: 32-bit sign-aggregated token-hash fingerprint
    * per document, plus the high-16-bit band key used for near-dup
    * candidate bucketing at scale.
    *
    * Perf shape: one native codegen'd kernel (graft_simhash) per document
    * — tokenize, rolling-hash each token, ±1 per bit, sign-aggregate, all
    * in a single JVM loop. Per-row projection: no shuffle at all before
    * the output sort, embarrassingly parallel at any corpus size. */
  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("simhash",
          graft.functions.GraftFunctions.simHashNative(split(lower(col("text")), " ")))
        .withColumn("band_hi", shiftright(col("simhash"), 16))
        .select("doc_id", "simhash", "band_hi")
        .orderBy("doc_id")
    },
    Some(s"""WITH h AS (
               SELECT doc_id,
                 list_transform(string_split(lower(text), ' '),
                   t -> ${charHashSql("t")}) AS hs
               FROM documents),
             sh AS (
               SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 31),
                   j -> CASE WHEN list_sum(list_transform(hs,
                          t -> 2*(${bitSql("t", "j")}) - 1)) > 0
                        THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                   AS simhash
               FROM h)
             SELECT doc_id, simhash,
               CAST(floor(simhash / power(2, 16)) AS BIGINT) AS band_hi
             FROM sh ORDER BY doc_id"""))

  /** Document-frequency cap for the n-gram inverted index: grams present in
    * more than this many documents of a (lang, source) bucket are dropped
    * from the similarity universe entirely. This is THE scale guarantee of
    * the inverted-index join — a gram with document frequency df generates
    * df² candidate pairs, so without a cap one stopword bigram ("of the")
    * turns the join into all-pairs over the bucket. With the cap, candidate
    * fan-out is ≤ DF_CAP² per gram and the number of *dropped* (hot) grams
    * is itself bounded by postings/DF_CAP.
    * The default of 3 suits the 500-doc test corpus so the filter path is
    * exercised (max observed within-bucket df is 6); a production corpus
    * would set `spark.graft.ngram.dfCap` to O(100..1000) — the semantics
    * (ignore ubiquitous grams, which carry no similarity signal) are the
    * standard max-df convention. The DuckDB oracle is generated for the
    * DEFAULT cap, so the hash gate applies when the conf is unset (as it
    * is in Verify/Bench/tests). */
  private val NGRAM_DF_CAP = 3
  /** The shared MinHash LSH band table: 4 bands of 4 over the 16-wide
    * signature (input needs `doc_id` and `sg`; `sg` is kept for the
    * verify stage), with the degenerate-band cap applied when
    * `spark.graft.minhash.bandCap` is set (operators/BandCap — the
    * banded joins' analog of the n-gram dfCap below; unset for gates,
    * where the oracles are generated uncapped). */
  private[queries] def minhashBands(s: SparkSession,
      sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.BandCap.filterDegenerate(
      sig.select(col("doc_id"), col("sg"),
          explode(sequence(lit(0), lit(3))).as("band_id"))
        .withColumn("band_key", concat_ws(":",
          transform(slice(col("sg"), col("band_id") * 4 + 1, lit(4)),
            x => x.cast("string"))))
        .select("doc_id", "band_id", "band_key", "sg"),
      Seq("band_id", "band_key"),
      graft.operators.BandCap.cap(s, "spark.graft.minhash.bandCap"))

  private def ngramDfCap(s: SparkSession): Int =
    s.conf.getOption("spark.graft.ngram.dfCap").map { v =>
      val cap = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.ngram.dfCap must be a positive integer, got '$v'")
      }
      require(cap > 0, s"spark.graft.ngram.dfCap must be > 0, got $cap " +
        "(a non-positive cap would drop every gram)")
      cap
    }.getOrElse(NGRAM_DF_CAP)

  /** Exact n-gram (word bigram) Jaccard near-dup within (lang, source)
    * buckets: candidate pairs come from the bucket equi-join over an
    * inverted index that EXCLUDES hot grams (df > NGRAM_DF_CAP); Jaccard is
    * computed over the same filtered gram universe on both engines. */
  private val qDedupNgram = Q(
    "q_dedup_ngram",
    (s, dir) => {
      val t = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 2)
        .withColumn("bg",
          graft.functions.GraftFunctions.gramHashesNative(col("tl"), 2))
      // Inverted-index join: explode distinct bigrams and equi-join on
      // (bucket, bigram) — |A∩B| = COUNT per pair, all codegen'd join +
      // hash aggregation, zero per-pair array operations. The classic
      // scalable set-similarity-join shape, made scale-safe by the df cap:
      // hot grams are removed by an anti-join, and per-doc set sizes are
      // recomputed over the filtered universe with one window pass so
      // numerator and denominator agree. The anti-join is deliberately NOT
      // broadcast-hinted: postings/DF_CAP bounds the hot set relative to
      // the postings list, but at a 100 TB corpus with a production cap of
      // O(100..1000) that bound is still billions of rows — AQE picks
      // broadcast at runtime when (and only when) the set is actually small.
      val dfCap = ngramDfCap(s)
      val ex = t.select(col("doc_id"), col("lang"), col("source"),
        explode_outer(col("bg")).as("bgh"))
      val hot = ex.groupBy("lang", "source", "bgh")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .select("lang", "source", "bgh")
      val exf = ex
        .join(hot, Seq("lang", "source", "bgh"), "left_anti")
        .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      val inter = exf.as("a")
        .join(exf.as("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.bgh") === col("b.bgh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.lang").as("lang"), col("a.nb").as("na"), col("b.nb").as("nb2"))
        .agg(count(lit(1)).as("inter"))
      inter
        .withColumn("jaccard",
          col("inter").cast("double") / (col("na") + col("nb2") - col("inter")))
        .filter(col("jaccard") >= 0.08)
        .select("doc_a", "doc_b", "lang", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH toks AS (
               SELECT doc_id, lang, source, string_split(lower(text), ' ') AS tl
               FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
             th AS (
               SELECT doc_id, lang, source,
                 list_transform(tl, t -> ${charHashSql("t")}) AS th
               FROM toks),
             g AS (
               SELECT doc_id, lang, source,
                 unnest(list_distinct(list_transform(generate_series(1, len(th) - 1),
                   i -> (th[i] * 131 + th[i+1]) % $P))) AS bgh
               FROM th),
             hot AS (
               SELECT lang, source, bgh FROM g
               GROUP BY 1, 2, 3 HAVING count(*) > $NGRAM_DF_CAP),
             gf AS (
               SELECT g.* FROM g ANTI JOIN hot
                 ON g.lang = hot.lang AND g.source = hot.source
                AND g.bgh = hot.bgh),
             n AS (SELECT doc_id, count(*) AS nb FROM gf GROUP BY 1),
             pairs AS (
               SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                 count(*) AS inter
               FROM gf a JOIN gf b
                 ON a.lang = b.lang AND a.source = b.source
                AND a.bgh = b.bgh AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3)
             SELECT doc_a, doc_b, lang,
               CAST(inter AS DOUBLE) / (na.nb + nbb.nb - inter) AS jaccard
             FROM pairs
             JOIN n na  ON na.doc_id  = doc_a
             JOIN n nbb ON nbb.doc_id = doc_b
             WHERE CAST(inter AS DOUBLE) / (na.nb + nbb.nb - inter) >= 0.08
             ORDER BY doc_a, doc_b"""))

  /** Embedding-cosine near-dup: LSH hyperplane buckets (6 planes → 64
    * buckets) generate candidates; quantized cosine filters them. The
    * bucket equi-join is the scale path — no all-pairs comparison runs.
    *
    * Perf shape: bucket, norm and pair dot-product each run as ONE native
    * codegen'd kernel (functions/VectorExpressions) over the compact
    * array<float> — no vector explosion, no interpreted lambdas. Products
    * are quantized (round(x·y·1e9) per element, integer sums) so no
    * aggregation order can perturb a float sum — the property that makes
    * the result reproducible across any partitioning AND by the DuckDB
    * oracle. */
  private val qDedupEmbedding = Q(
    "q_dedup_embedding",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val e = table(s, dir, "embeddings")
        .withColumn("bucket", lshBucketNative(col("embedding"), 6))
        .withColumn("nq", quantDotNative(col("embedding"), col("embedding")))
        .select("vec_id", "bucket", "nq", "embedding")
      e.as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dotq", quantDotNative(col("a.embedding"), col("b.embedding")))
        .withColumn("cosine",
          (col("dotq").cast("double") / lit(1e9)) /
            (sqrt(col("a.nq").cast("double") / lit(1e9)) *
             sqrt(col("b.nq").cast("double") / lit(1e9))))
        .filter(col("cosine") >= 0.3)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.bucket").as("bucket"), col("cosine"))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH e AS (
               SELECT vec_id, embedding,
                 ${lshBucketSql("embedding", 6, 64)} AS bucket
               FROM embeddings),
             n AS (
               SELECT vec_id,
                 list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(round(CAST(embedding[i] AS DOUBLE) *
                     CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT))) AS nq
               FROM embeddings),
             cand AS (
               SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(round(CAST(a.embedding[i] AS DOUBLE) *
                     CAST(b.embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT)))
                   AS BIGINT) AS dotq
               FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
             scored AS (
               SELECT vec_a, vec_b, bucket,
                 (CAST(dotq AS DOUBLE) / 1000000000.0) /
                   (sqrt(CAST(na.nq AS DOUBLE) / 1000000000.0) *
                    sqrt(CAST(nb.nq AS DOUBLE) / 1000000000.0)) AS cosine
               FROM cand
               JOIN n na ON na.vec_id = cand.vec_a
               JOIN n nb ON nb.vec_id = cand.vec_b)
             SELECT vec_a, vec_b, bucket, cosine FROM scored
             WHERE cosine >= 0.3 ORDER BY vec_a, vec_b"""))

  // -- similarity search ----------------------------------------------

  /** Brute-force cosine top-5 for 8 query vectors — the exact baseline.
    * The query side is broadcast; the candidate scan streams through one
    * codegen'd projection, and the per-query top-k is a window over the
    * (high-cardinality at scale) query_id. */
  private val qSimTopk = Q(
    "q_sim_topk",
    (s, dir) => {
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          graft.functions.GraftFunctions.cosineNative(col("qv"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "rk", "vec_id", "cosine")
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH q AS (
               SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
             scored AS (
               SELECT q.query_id, e.vec_id,
                 ${cosineSql("q.qv", "e.embedding", 64)} AS cosine
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cosine FROM ranked
             WHERE rk <= 5 ORDER BY query_id, rk"""))

  /** LSH-bucketed approximate top-3: queries only score candidates in
    * their own hyperplane bucket (~1/16 of the corpus) — the scale path
    * for ANN where brute force is O(n·q). */
  private val qSimLsh = Q(
    "q_sim_lsh",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val e = table(s, dir, "embeddings")
        .withColumn("bucket", lshBucketNative(col("embedding"), 4))
        .select("vec_id", "bucket", "embedding")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("bucket").as("qbucket"),
          col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      e.join(broadcast(q),
          col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosineNative(col("qv"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "rk", "vec_id", "bucket", "cosine")
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH e AS (
               SELECT vec_id, embedding,
                 ${lshBucketSql("embedding", 4, 64)} AS bucket
               FROM embeddings),
             q AS (
               SELECT vec_id AS query_id, bucket AS qbucket, embedding AS qv
               FROM e WHERE vec_id < 8),
             scored AS (
               SELECT q.query_id, e.vec_id, e.bucket,
                 ${cosineSql("q.qv", "e.embedding", 64)} AS cosine
               FROM e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id),
             ranked AS (
               SELECT query_id, vec_id, bucket, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, bucket, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** Per-group embedding CENTROIDS through a mergeable typed Aggregator
    * (operators/TypedAggregates.VectorSum): the buffer is one
    * Array[Long] of per-dimension quantized sums + a count, so partial
    * aggregation runs MAP-SIDE and the shuffle carries dim longs per
    * (group, partition) — the explode formulation (the oracle) shuffles
    * dim rows per INPUT vector, 64× more here and at any scale. Sums
    * quantize each element with DuckDB-round semantics before adding,
    * so the integer state is merge-order-proof and the mean is a single
    * double conversion at the end. */
  private val qAggVectorCentroid = Q(
    "q_agg_vector_centroid",
    (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
        .select(col("label").cast("long").as("grp"), col("embedding"))
        .as[(Long, Seq[Float])]
      e.groupByKey(_._1).mapValues(_._2)
        .agg(graft.operators.TypedAggregates.VectorSum(64).toColumn)
        .flatMap { case (grp, (sums, n)) =>
          sums.zipWithIndex.map { case (sq, i) => (grp, (i + 1).toLong, n, sq) }
        }
        .toDF("grp", "dim", "n", "sum_q")
        .withColumn("mean",
          (col("sum_q").cast("double") / 10000.0) / col("n"))
        .orderBy("grp", "dim")
    },
    Some("""WITH x AS (
              SELECT CAST(label AS BIGINT) AS grp, i AS dim,
                CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
              FROM embeddings
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims)
            SELECT grp, CAST(dim AS BIGINT) AS dim, count(*) AS n,
              CAST(sum(q) AS BIGINT) AS sum_q,
              (CAST(sum(q) AS DOUBLE) / 10000.0) / count(*) AS mean
            FROM x GROUP BY grp, dim ORDER BY grp, dim"""))

  /** Per-group embedding DISPERSION — the cluster-tightness metric
    * (average squared distance to the group centroid) that grades how
    * separable a labeled embedding space is, kept EXACT in quantized
    * units via the variance identity n·Σ|x|² − Σ_d(Σx_d)² over
    * 1e-4-quantized coordinates: per-row squared norms are one narrow
    * projection, per-dim sums reuse the mergeable VectorSum Aggregator
    * (the q_agg_vector_centroid machinery — 64 longs of state per
    * group), and the final combine is decimal(38,0) products with
    * remainder-subtracted floor division (n·Σ|x|² is 10²⁰-grade at a
    * billion-vector corpus). No float enters until never — the output
    * is integer micros of squared 1e-4 units. */
  private val qAggVectorDispersion = Q(
    "q_agg_vector_dispersion",
    (s, dir) => {
      import s.implicits._
      val dec = "decimal(38,0)"
      val e = table(s, dir, "embeddings")
        .select(col("label").cast("long").as("grp"), col("embedding"))
      val qsq = aggregate(
        transform(col("embedding"),
          x => {
            val q = round(x.cast("double") * 10000).cast("long")
            q * q
          }),
        lit(0L), (acc, v) => acc + v)
      val ssn = e.select(col("grp"), qsq.as("qsq"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("qsq").cast(dec)).as("ss"))
      val s2 = e.as[(Long, Seq[Float])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(graft.operators.TypedAggregates.VectorSum(64).toColumn)
        .flatMap { case (grp, (sums, _)) => sums.map(sq => (grp, sq)) }
        .toDF("grp", "sum_q")
        .groupBy(col("grp"))
        .agg(sum(col("sum_q").cast(dec) * col("sum_q").cast(dec)).as("s2"))
      ssn.join(s2, "grp")
        .select(col("grp"), col("n"), {
          val num = (col("n").cast(dec) * col("ss") - col("s2")) *
            lit(1000000L).cast(dec)
          val den = col("n").cast(dec) * col("n").cast(dec)
          ((num - num % den) / den).cast("long").as("dispersion_micro")
        })
        .orderBy("grp")
    },
    Some("""WITH x AS (
              SELECT CAST(label AS BIGINT) AS grp, i AS dim,
                CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
              FROM embeddings
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims),
            per AS (SELECT grp, dim, sum(q) AS sq FROM x GROUP BY 1, 2),
            nn AS (SELECT CAST(label AS BIGINT) AS grp, count(*) AS n
                   FROM embeddings GROUP BY 1),
            ss AS (SELECT grp, sum(CAST(q AS HUGEINT) * q) AS ss
                   FROM x GROUP BY 1),
            s2 AS (SELECT grp, sum(CAST(sq AS HUGEINT) * sq) AS s2
                   FROM per GROUP BY 1)
            SELECT nn.grp, n,
              CAST(((CAST(n AS HUGEINT) * ss - s2) * 1000000)
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS dispersion_micro
            FROM nn JOIN ss ON ss.grp = nn.grp JOIN s2 ON s2.grp = nn.grp
            ORDER BY nn.grp"""))

  /** Per-document discriminative terms — the tf-idf-family scoring a
    * retrieval/curation pipeline runs corpus-wide, kept EXACT: score =
    * (tf · 10⁶) div df, an integer tf/df ratio (idf ∝ 1/df — same
    * ranking family as log-idf, none of its float drift), so Spark and
    * DuckDB rank bit-identically with string tiebreaks.
    *
    * Scale shape: token explode is narrow; (doc, term) tf is one
    * hash-agg; df reuses the tf rows (already distinct per doc×term) —
    * a term-keyed second agg; the score join hash-partitions both sides
    * on term (term dictionaries are Zipf-heavy but bounded; no
    * broadcast of a corpus-sized side); per-doc top-3 is a rank window
    * pruned map-side by WindowGroupLimit. */
  private val qTextTopterms = Q(
    "q_text_topterms",
    (s, dir) => {
      val t = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = t.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score", expr("tf * 1000000L div df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    },
    Some("""WITH t AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            tok AS (SELECT doc_id, term FROM t WHERE term <> ''),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                (tf.tf * 1000000) // df.df AS score
              FROM tf JOIN df USING (term)),
            ranked AS (
              SELECT doc_id, term, tf, df, score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term) AS rk
              FROM scored)
            SELECT doc_id, rk, term, tf, df, score FROM ranked
            WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** CHI-SQUARE term–class association — supervised feature selection:
    * which terms are most predictive of a document's language label?
    * Per (term, lang) 2×2 contingency table over DOC-LEVEL presence
    * (a = lang docs with the term, b = other lang docs with it, c/d the
    * complements), scored N·(ad−bc)² / ((a+c)(b+d)·nl·(N−nl)) as ONE
    * integer division — numerator and denominator are exact
    * decimal(38,0)/HUGEINT products (N·(ad−bc)² tops 3·10¹⁸ at sf0.1,
    * past long range at the next SF — the same wide-integer discipline
    * as q_outliers_zscore), so ranking is bit-identical.
    *
    * Scale shape: distinct (doc, term) presence → one (term, lang) hash
    * aggregation; per-lang doc totals and per-term df are
    * vocabulary/label-sized side aggregates joined back (df by term-keyed
    * join, lang totals dictionary-broadcast); top-20 is
    * TakeOrderedAndProject. Nothing touches raw text twice. */
  private val qTextChi2 = Q(
    "q_text_chi2",
    (s, dir) => {
      val dec = "decimal(38,0)"
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
      val pres = docs
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(
            filter(split(lower(col("text")), " "), x => x =!= ""))).as("term"))
      val nDocs = docs.count()
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val byTerm = pres.groupBy("term").agg(count(lit(1)).as("dft"))
      val a = pres.groupBy("term", "lang").agg(count(lit(1)).as("a"))
      a.join(byTerm, "term")
        .join(broadcast(byLang), "lang")
        .select(col("lang"), col("term"), {
          val ad = col("a").cast(dec) * (lit(nDocs) - col("nl") - col("dft") + col("a")).cast(dec)
          val bc = (col("nl") - col("a")).cast(dec) * (col("dft") - col("a")).cast(dec)
          val num = lit(nDocs).cast(dec) * (ad - bc) * (ad - bc)
          val den = col("dft").cast(dec) * (lit(nDocs) - col("dft")).cast(dec) *
            col("nl").cast(dec) * (lit(nDocs) - col("nl")).cast(dec)
          // exact floor division: subtract the remainder first so the
          // decimal divide is integral — Spark's scale-6 HALF_UP divide
          // could otherwise round a just-below-integer quotient UP where
          // DuckDB's // floors it down
          val scaled = num * lit(1000000L).cast(dec)
          ((scaled - scaled % den) / den).cast("long").as("chi2_micro")
        })
        .orderBy(col("chi2_micro").desc, col("lang"), col("term"))
        .limit(20)
    },
    Some("""WITH pres AS (
              SELECT DISTINCT doc_id, lang,
                unnest(list_filter(string_split(lower(text), ' '),
                  x -> x <> '')) AS term
              FROM documents),
            n AS (SELECT count(*) AS nd FROM documents),
            bylang AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
            byterm AS (SELECT term, count(DISTINCT doc_id) AS dft
                       FROM pres GROUP BY 1),
            a AS (SELECT term, lang, count(DISTINCT doc_id) AS a
                  FROM pres GROUP BY 1, 2)
            SELECT a.lang, a.term,
              CAST(
                (CAST(nd AS HUGEINT)
                  * (CAST(a.a AS HUGEINT) * (nd - nl - dft + a.a)
                     - CAST(nl - a.a AS HUGEINT) * (dft - a.a))
                  * (CAST(a.a AS HUGEINT) * (nd - nl - dft + a.a)
                     - CAST(nl - a.a AS HUGEINT) * (dft - a.a))
                  * 1000000)
                // (CAST(dft AS HUGEINT) * (nd - dft)
                    * CAST(nl AS HUGEINT) * (nd - nl)) AS BIGINT)
                AS chi2_micro
            FROM a JOIN byterm USING (term) JOIN bylang USING (lang)
            CROSS JOIN n
            ORDER BY chi2_micro DESC, lang, term LIMIT 20"""))

  /** TERM-DISTRIBUTION DRIFT between corpus eras — the ingest-monitoring
    * primitive that catches a source change (new boilerplate, scraper
    * regression, topic shift) before it poisons a training mix: per-term
    * doc-frequency rates in two halves of the corpus, ranked by rate
    * shift. The comparison |dfa·nb − dfb·na| is the cross-multiplied
    * rate difference — exact long arithmetic, no per-term division, and
    * the era split (doc_id below/above the midpoint) is derived from the
    * corpus itself so the query is constant-free.
    *
    * Scale shape: distinct doc-level presence → ONE (term) hash
    * aggregation with both era counts as conditional sums (no join
    * between eras — the pivot happens inside the aggregate); era doc
    * totals are a 2-value broadcast; top-15 is TakeOrderedAndProject. */
  private val qDriftTerms = Q(
    "q_drift_terms",
    (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "text")
      val mid = docs.agg(expr("CAST(max(doc_id) + 1 AS BIGINT) div 2").as("m"))
      val pres = docs
        .select(col("doc_id"),
          explode(array_distinct(
            filter(split(lower(col("text")), " "), x => x =!= ""))).as("term"))
      val n = docs.join(broadcast(mid))
        .agg(sum(when(col("doc_id") < col("m"), 1L).otherwise(0L)).as("na"),
          sum(when(col("doc_id") >= col("m"), 1L).otherwise(0L)).as("nb"))
      pres.join(broadcast(mid))
        .groupBy("term")
        .agg(sum(when(col("doc_id") < col("m"), 1L).otherwise(0L)).as("dfa"),
          sum(when(col("doc_id") >= col("m"), 1L).otherwise(0L)).as("dfb"))
        .join(broadcast(n))
        .select(col("term"), col("dfa"), col("dfb"),
          abs(col("dfa") * col("nb") - col("dfb") * col("na")).as("drift"))
        .orderBy(col("drift").desc, col("term"))
        .limit(15)
    },
    Some("""WITH mid AS (
              SELECT CAST(max(doc_id) + 1 AS BIGINT) // 2 AS m FROM documents),
            pres AS (
              SELECT DISTINCT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                  x -> x <> '')) AS term
              FROM documents),
            n AS (
              SELECT sum(CASE WHEN doc_id < m THEN 1 ELSE 0 END) AS na,
                sum(CASE WHEN doc_id >= m THEN 1 ELSE 0 END) AS nb
              FROM documents, mid),
            df AS (
              SELECT term,
                sum(CASE WHEN p.doc_id < m THEN 1 ELSE 0 END) AS dfa,
                sum(CASE WHEN p.doc_id >= m THEN 1 ELSE 0 END) AS dfb
              FROM pres p, mid GROUP BY 1)
            SELECT term, CAST(dfa AS BIGINT) AS dfa, CAST(dfb AS BIGINT) AS dfb,
              CAST(abs(dfa * nb - dfb * na) AS BIGINT) AS drift
            FROM df, n ORDER BY drift DESC, term LIMIT 15"""))

  /** Vocabulary build + token-ID encoding — the tokenizer-prep step every
    * training corpus goes through: derive a bounded vocabulary from corpus
    * term frequencies, then encode documents as (position, token-id)
    * sequences with OOV mapped to a reserved id 0.
    *
    * Scale shape, in order: (1) term frequency is ONE corpus-wide hash
    * aggregation (map-side partial combine); (2) the vocabulary is a
    * bounded top-k — `orderBy.limit(k)` plans TakeOrderedAndProject, a
    * per-partition heap + driver merge of k rows, never a global sort of
    * the term dictionary; (3) id assignment is a row_number window over
    * the ALREADY k-row vocabulary (driver-scale input — the global window
    * never sees the corpus); (4) encoding is a broadcast hash join of the
    * exploded token stream against the kilobyte vocab — map-side, narrow,
    * no shuffle of the corpus. The gated output encodes a deterministic
    * 1-in-50 document slice so the driver compare stays bounded while the
    * vocabulary still aggregates every document.
    *
    * Ranking is (count DESC, term ASC) — a total order, so the k-boundary
    * is deterministic on both engines. */
  private val qVocabEncode = Q(
    "q_vocab_encode",
    (s, dir) => {
      val tok = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos0", "term")))
        .filter(col("term") =!= "")
      val freq = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      val idW = Window.orderBy(col("cnt").desc, col("term"))
      val vocab = freq.orderBy(col("cnt").desc, col("term")).limit(256)
        .withColumn("token_id", row_number().over(idW).cast("long"))
        .select("term", "token_id")
      tok.filter(col("doc_id") % 50 === 0)
        .join(broadcast(vocab), Seq("term"), "left")
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("term"), coalesce(col("token_id"), lit(0L)).as("token_id"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH raw AS (
              SELECT doc_id, unnest(arr) AS term,
                unnest(generate_series(1, len(arr))) AS pos
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS arr
                    FROM documents)),
            tok AS (SELECT doc_id, term, pos FROM raw WHERE term <> ''),
            freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
            top AS (SELECT term, cnt FROM freq ORDER BY cnt DESC, term LIMIT 256),
            v AS (SELECT term,
                    row_number() OVER (ORDER BY cnt DESC, term) AS token_id
                  FROM top)
            SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos, t.term,
              CAST(coalesce(v.token_id, 0) AS BIGINT) AS token_id
            FROM tok t LEFT JOIN v USING (term)
            WHERE t.doc_id % 50 = 0
            ORDER BY doc_id, pos"""))

  /** BM25 ranked retrieval — the full scoring shape (term-frequency
    * saturation × document-length normalization × rarity weighting) for
    * a fixed 3-term query, kept EXACT: with k1 = 6/5 and b = 3/4 the
    * saturation denominator tf + k1(1−b) + k1·b·dl/avgdl multiplies
    * through by 10T (T = corpus token count, avgdl = T/N) into pure
    * integers, and the rarity weight is the integer rational
    * (N−df+1)/(df+1) — the same monotone-in-df family as log-idf with
    * none of its cross-engine float drift (same discipline as
    * q_text_topterms). Spark and DuckDB therefore rank bit-identically.
    *
    * Scale shape: the token stream narrows to the 3 query terms BEFORE
    * any shuffle (tf is a filtered hash-agg); df is a 3-row aggregate
    * broadcast back; dl is one per-doc aggregation reused for the
    * corpus constants; N and T are a one-row driver fetch (plan-time
    * constants, the scalar-subquery shape); top-10 is
    * TakeOrderedAndProject. Integer headroom: products stay < 2⁶³ up to
    * ~10⁹ corpus tokens per the chosen 10⁴/10⁵ scales — the production
    * knob at larger T is dividing T out of both saturation terms. */
  private val qTextBm25 = Q(
    "q_text_bm25",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nDocs = docs.count()
      val tTok = dl.agg(sum(col("dl"))).head.getLong(0)
      val tf = tok.filter(col("term").isin("hash", "join", "vector"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), "term").join(dl, "doc_id")
        .withColumn("s", expr(
          s"""((($nDocs - df + 1) * 100000) div (df + 1)) *
              ((tf * 22 * $tTok * 10000) div
               (10 * $tTok * tf + 3 * $tTok + 9 * dl * $nDocs))"""))
        .groupBy("doc_id").agg(sum(col("s")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    },
    Some(bm25OracleSql))

  /** Shared BM25 oracle — q_text_bm25 and its persisted/incremental
    * Store-index twins gate against the IDENTICAL SQL: neither
    * persistence nor doc-disjoint delta merging may change a score. */
  private[queries] lazy val bm25OracleSql: String =
    """WITH raw AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            tok AS (SELECT doc_id, term FROM raw WHERE term <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
            consts AS (
              SELECT (SELECT count(*) FROM documents) AS n_docs,
                     (SELECT sum(dl) FROM dl) AS t_tokens),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                   WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                (((n_docs - df.df + 1) * 100000) // (df.df + 1)) *
                ((tf.tf * 22 * t_tokens * 10000) //
                 (10 * t_tokens * tf.tf + 3 * t_tokens + 9 * dl.dl * n_docs)) AS s
              FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id,
                consts)
            SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
            FROM scored GROUP BY 1
            ORDER BY score DESC, doc_id LIMIT 10"""

  /** PERSISTED INVERTED INDEX, the build-once/search-many lexical
    * retrieval path ([[graft.operators.TextIndex]] — the text third of
    * the persisted-artifact triple next to the ANN index and the model
    * store): postings committed as versioned Store generations,
    * PARTITIONED BY the term's portable-hash bucket so a search prunes
    * its scan to the query terms' buckets at file listing; document
    * length rides denormalized on every posting (no corpus-sized side
    * join at search time); document frequency and the BM25 corpus
    * constants come from the fetched postings + member metas — the
    * search never re-tokenizes, aggregates, or lists the corpus.
    * Shares q_text_bm25's oracle verbatim: persistence cannot change
    * a score. TextIndexSpec pins the pruned-scan shape, crash-window
    * orphans, asOf freezing and driver/executor bucket agreement. */
  private val qTextBm25Persisted = Q(
    "q_text_bm25_persisted",
    (s, dir) => {
      val idx = artifactDir(s, "textindex", "q_text_bm25_persisted")
      graft.operators.TextIndex.build(
        table(s, dir, "documents"), "doc_id", "text", idx)
      graft.operators.TextIndex.search(s, idx,
        Seq("hash", "join", "vector"), topK = 10)
    },
    Some(bm25OracleSql))

  /** INCREMENTAL index maintenance: the index is built on half the
    * corpus, extended with the other half via
    * [[graft.operators.TextIndex.appendDelta]] (absorbed documents
    * never re-tokenized) — and still gates against the one-shot oracle:
    * doc-disjoint member postings union losslessly (per-term df is a
    * row count over the union, corpus constants sum from member metas).
    * The 100 TB ingest shape: each arriving batch indexes only itself
    * and commits a frozen, asOf-addressable version. */
  private val qTextBm25Incremental = Q(
    "q_text_bm25_incremental",
    (s, dir) => {
      val idx = artifactDir(s, "textindex", "q_text_bm25_incremental")
      val docs = table(s, dir, "documents")
      graft.operators.TextIndex.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
      graft.operators.TextIndex.appendDelta(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
      graft.operators.TextIndex.search(s, idx,
        Seq("hash", "join", "vector"), topK = 10)
    },
    Some(bm25OracleSql))

  /** GENERATION COMPACTION: incremental maintenance accretes one member
    * directory per [[graft.operators.TextIndex.appendDelta]] and every
    * search pays per-member listings/footers and a wider union —
    * [[graft.operators.TextIndex.compact]] rewrites the member union as
    * ONE generation (same term-bucket partitioning, summed corpus meta)
    * and commits a manifest naming only it. Build half + delta half +
    * compact still gates against the one-shot oracle: members are
    * doc-disjoint, so rewriting which FILES hold the postings can never
    * change a score. The 100 TB shape: bounded read amplification —
    * deltas absorb continuously, a periodic compaction returns searches
    * to single-member cost, and superseded members stay on disk for
    * asOf readers (TextIndexSpec pins member collapse + frozen
    * history). */
  private val qTextBm25Compacted = Q(
    "q_text_bm25_compacted",
    (s, dir) => {
      val idx = artifactDir(s, "textindex", "q_text_bm25_compacted")
      val docs = table(s, dir, "documents")
      graft.operators.TextIndex.build(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
      graft.operators.TextIndex.appendDelta(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
      graft.operators.TextIndex.compact(s, idx)
      graft.operators.TextIndex.search(s, idx,
        Seq("hash", "join", "vector"), topK = 10)
    },
    Some(bm25OracleSql))

  /** HYBRID RETRIEVAL — reciprocal-rank fusion of the lexical (BM25)
    * and dense (embedding-cosine) arms, the standard production
    * retrieval composition (RRF, Cormack et al. 2009: fused score =
    * Σ_systems 1/(k + rank), k = 60). Each arm contributes its top-20
    * RANKS only — RRF is deliberately score-scale-free, which is what
    * makes heterogeneous systems fusable — and the fused score is kept
    * EXACT INTEGER: 10⁶ div (60 + rank) summed over arms (missing from
    * an arm ⇒ 0), so both engines rank bit-identically.
    *
    * Scale shape: the lexical arm is the gated BM25 plan (term-filtered
    * tf, broadcast df, TakeOrdered top-20); the dense arm is a
    * single-query-vector broadcast over a codegen'd cosine projection
    * with TakeOrdered top-20 (the q_sim_topk discipline — at corpus
    * scale this arm swaps to the persisted-IVF probe unchanged, since
    * fusion consumes only (id, rank)); fusion itself is a 40-row
    * full-outer join — constant-sized whatever the corpus. */
  private val qSearchHybridRrf = Q(
    "q_search_hybrid_rrf",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nDocs = docs.count()
      val tTok = dl.agg(sum(col("dl"))).head.getLong(0)
      val tf = tok.filter(col("term").isin("hash", "join", "vector"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val lexTop = tf.join(broadcast(dfT), "term").join(dl, "doc_id")
        .withColumn("s", expr(
          s"""((($nDocs - df + 1) * 100000) div (df + 1)) *
              ((tf * 22 * $tTok * 10000) div
               (10 * $tTok * tf + 3 * $tTok + 9 * dl * $nDocs))"""))
        .groupBy("doc_id").agg(sum(col("s")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
      val lex = lexTop
        .withColumn("rank_lex", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank_lex")

      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val denseTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .withColumn("cosine",
          graft.functions.GraftFunctions.cosineNative(col("qv"), col("embedding")))
        .select("vec_id", "cosine")
        .orderBy(col("cosine").desc, col("vec_id")).limit(20)
      val dense = denseTop
        .withColumn("rank_dense", row_number()
          .over(Window.orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("doc_id"), col("rank_dense"))

      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rank_lex", coalesce(col("rank_lex"), lit(0L)))
        .withColumn("rank_dense", coalesce(col("rank_dense"), lit(0L)))
        .withColumn("rrf", expr(
          """CASE WHEN rank_lex > 0 THEN 1000000 div (60 + rank_lex) ELSE 0 END +
             CASE WHEN rank_dense > 0 THEN 1000000 div (60 + rank_dense) ELSE 0 END""").cast("long"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .select("rk", "doc_id", "rank_lex", "rank_dense", "rrf")
        .orderBy("rk")
    },
    Some(s"""WITH raw AS (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
               FROM documents),
             tok AS (SELECT doc_id, term FROM raw WHERE term <> ''),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             consts AS (
               SELECT (SELECT count(*) FROM documents) AS n_docs,
                      (SELECT sum(dl) FROM dl) AS t_tokens),
             tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                    WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
             df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             scoredlex AS (
               SELECT tf.doc_id,
                 (((n_docs - df.df + 1) * 100000) // (df.df + 1)) *
                 ((tf.tf * 22 * t_tokens * 10000) //
                  (10 * t_tokens * tf.tf + 3 * t_tokens + 9 * dl.dl * n_docs)) AS s
               FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id,
                 consts),
             lex AS (
               SELECT doc_id, rank_lex FROM (
                 SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
                 FROM (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
                       FROM scoredlex GROUP BY 1) t0) t1
               WHERE rank_lex <= 20),
             qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             densescored AS (
               SELECT e.vec_id, ${cosineSql("q.qv", "e.embedding", 64)} AS cosine
               FROM embeddings e CROSS JOIN qe q WHERE e.vec_id <> 0),
             dense AS (
               SELECT vec_id AS doc_id, rank_dense FROM (
                 SELECT vec_id,
                   row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank_dense
                 FROM densescored) t2
               WHERE rank_dense <= 20),
             fused AS (
               SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
                 coalesce(l.rank_lex, 0) AS rank_lex,
                 coalesce(d.rank_dense, 0) AS rank_dense
               FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
             rrfed AS (
               SELECT doc_id, rank_lex, rank_dense,
                 CAST(CASE WHEN rank_lex > 0
                        THEN 1000000 // (60 + rank_lex) ELSE 0 END +
                      CASE WHEN rank_dense > 0
                        THEN 1000000 // (60 + rank_dense) ELSE 0 END
                   AS BIGINT) AS rrf
               FROM fused)
             SELECT row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk,
               doc_id, rank_lex, rank_dense, rrf
             FROM rrfed ORDER BY rrf DESC, doc_id LIMIT 10"""))

  /** MMR DIVERSIFIED RERANK (maximal marginal relevance, Carbonell &
    * Goldstein 1998): from each query's dense top-12 shortlist, greedily
    * select 5 maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)
    * with λ = 0.7 — the standard redundancy-removal rerank between
    * retrieval and consumption (dedups near-identical hits the raw
    * ranking would return back-to-back).
    *
    * Scale shape: shortlist generation is the q_sim_topk discipline
    * (broadcast query vectors over one codegen'd cosine projection +
    * per-query window top-k); the candidate-pair similarity matrix is a
    * query_id-keyed equi-self-join (k² = 144 rows per query, never
    * corpus-pairs); the greedy loop itself runs per-query inside one
    * typed flatMapGroups whose group state is k²-bounded — queries
    * parallelize across partitions, and at corpus scale the shortlist
    * arm swaps to the persisted-IVF probe unchanged.
    *
    * Determinism: rel/sim are the established ordered-fold cosines;
    * each greedy step is one IEEE multiply-subtract per candidate
    * (identical literal constants both engines) with max over selected
    * sims (order-free) and doc_id tie-breaks; the oracle replays the
    * greedy selection via a recursive CTE carrying the selected list. */
  private val qSearchMmr = Q(
    "q_search_mmr",
    (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val q = e.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("vec_id"))
      val cands = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("rel",
          graft.functions.GraftFunctions.cosineNative(col("qv"), col("embedding")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 12)
        .select("query_id", "vec_id", "rel", "embedding")
      val pairs = cands.as("a").join(cands.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .withColumn("sim", graft.functions.GraftFunctions.cosineNative(
          col("a.embedding"), col("b.embedding")))
        .select(col("a.query_id").as("query_id"), col("a.vec_id").as("a"),
          col("a.rel").as("rel"), col("b.vec_id").as("b"), col("sim"))
        .as[(Long, Long, Double, Long, Double)]
      pairs.groupByKey(_._1)
        .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Long, Double)]) =>
          val rows = it.toVector
          val rel = rows.map(r => r._2 -> r._3).toMap
          val sim = rows.map(r => (r._2, r._4) -> r._5).toMap
          var selected = Vector.empty[Long]
          var remaining = rel.keySet
          val out = Vector.newBuilder[(Long, Long, Long, Double)]
          var rk = 1L
          while (rk <= 5 && remaining.nonEmpty) {
            // score = λ·rel − (1−λ)·maxsim; empty-selection maxsim = 0
            val pick = remaining.map { c =>
              val maxsim =
                if (selected.isEmpty) 0.0
                else selected.map(s0 => sim((c, s0))).max
              (c, 0.7 * rel(c) - 0.3 * maxsim)
            }.minBy { case (c, sc) => (-sc, c) }
            out += ((qid, rk, pick._1, pick._2))
            selected :+= pick._1
            remaining -= pick._1
            rk += 1
          }
          out.result().iterator
        }
        .toDF("query_id", "rk", "vec_id", "mmr")
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH RECURSIVE q AS (
               SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 2),
             scored AS (
               SELECT q.query_id, e.vec_id,
                 ${cosineSql("q.qv", "e.embedding", 64)} AS rel, e.embedding
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             cands AS (
               SELECT query_id, vec_id, rel, embedding FROM (
                 SELECT query_id, vec_id, rel, embedding,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, vec_id) AS rn
                 FROM scored) t WHERE rn <= 12),
             sims AS (
               SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
                 ${cosineSql("a.embedding", "b.embedding", 64)} AS sim
               FROM cands a JOIN cands b
                 ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
             sel(query_id, rk, sel, pick, mmr) AS (
               SELECT query_id, CAST(1 AS BIGINT), [vec_id], vec_id, 0.7 * rel
               FROM (SELECT query_id, vec_id, rel,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY rel DESC, vec_id) AS rn
                     FROM cands) t WHERE rn = 1
               UNION ALL
               SELECT query_id, rk + 1, list_append(sel, pick2), pick2, score2
               FROM (
                 SELECT s.query_id, s.rk, s.sel, c.vec_id AS pick2,
                   0.7 * c.rel - 0.3 * (SELECT max(m.sim) FROM sims m
                     WHERE m.query_id = c.query_id AND m.a = c.vec_id
                       AND list_contains(s.sel, m.b)) AS score2,
                   row_number() OVER (PARTITION BY s.query_id ORDER BY
                     0.7 * c.rel - 0.3 * (SELECT max(m.sim) FROM sims m
                       WHERE m.query_id = c.query_id AND m.a = c.vec_id
                         AND list_contains(s.sel, m.b)) DESC, c.vec_id) AS rn
                 FROM sel s JOIN cands c ON c.query_id = s.query_id
                   AND NOT list_contains(s.sel, c.vec_id)
                 WHERE s.rk < 5) u WHERE rn = 1)
             SELECT query_id, rk, pick AS vec_id, mmr
             FROM sel ORDER BY query_id, rk"""))

  /** PSEUDO-RELEVANCE FEEDBACK query expansion (the RM3 recipe,
    * Lavrenko & Croft 2001 / Abdul-Jaleel 2004): run the lexical query,
    * take the top-10 docs as a silent relevance sample, mine the 3
    * strongest expansion terms from them (highest feedback-set tf,
    * original terms and short tokens excluded), then re-score with the
    * expanded term set — original terms at weight 2, expansion at 1 —
    * and return the final top-10. Recall-oriented twin of q_search_mmr
    * (PRF widens the net; MMR prunes redundancy).
    *
    * Scale shape: both passes are the gated BM25 plan (term-filtered tf
    * via a broadcast term-set join, broadcast df, window top-k); the
    * feedback set is constant (10 docs), so expansion mining is a
    * semi-join against 10 ids followed by a tiny top-3 — nothing between
    * the two passes grows with the corpus. Scoring is the exact-integer
    * BM25 kernel throughout, with integer term weights, so ranking is
    * bit-identical across engines. */
  private val qSearchPrfRm3 = Q(
    "q_search_prf_rm3",
    (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val tok = docs
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nDocs = docs.count()
      val tTok = dl.agg(sum(col("dl"))).head.getLong(0)
      def bm25Col: org.apache.spark.sql.Column = expr(
        s"""((($nDocs - df + 1) * 100000) div (df + 1)) *
            ((tf * 22 * $tTok * 10000) div
             (10 * $tTok * tf + 3 * $tTok + 9 * dl * $nDocs))""")
      def scorePass(termsW: DataFrame): DataFrame = {
        val tf = tok.join(broadcast(termsW), "term")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfT), "term").join(dl, "doc_id")
          .join(broadcast(termsW), "term")
          .withColumn("s", bm25Col * col("w"))
          .groupBy("doc_id").agg(sum(col("s")).as("score"))
      }
      val orig = Seq("hash", "join", "vector")
      val origW = orig.toDF("term").withColumn("w", lit(2L))
      val fb = scorePass(origW)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .select("doc_id")
      val expTerms = tok
        .join(broadcast(fb), "doc_id")
        .filter(!col("term").isin(orig: _*) && length(col("term")) >= 4)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(3)
        .select(col("term")).withColumn("w", lit(1L))
      scorePass(origW.unionByName(expTerms))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("rk", "doc_id", "score")
        .orderBy("rk")
    },
    Some(s"""WITH raw AS (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
               FROM documents),
             tok AS (SELECT doc_id, term FROM raw WHERE term <> ''),
             dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
             consts AS (
               SELECT (SELECT count(*) FROM documents) AS n_docs,
                      (SELECT sum(dl) FROM dl) AS t_tokens),
             tf1 AS (SELECT doc_id, term, count(*) AS tf FROM tok
                     WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
             df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
             fb AS (
               SELECT doc_id FROM (
                 SELECT tf1.doc_id, CAST(sum(
                   (((n_docs - df1.df + 1) * 100000) // (df1.df + 1)) *
                   ((tf1.tf * 22 * t_tokens * 10000) //
                    (10 * t_tokens * tf1.tf + 3 * t_tokens +
                     9 * dl.dl * n_docs)) * 2) AS BIGINT) AS score
                 FROM tf1 JOIN df1 USING (term)
                   JOIN dl ON tf1.doc_id = dl.doc_id, consts
                 GROUP BY 1) t0
               ORDER BY score DESC, doc_id LIMIT 10),
             expt AS (
               SELECT term, CAST(1 AS BIGINT) AS w FROM (
                 SELECT term, count(*) AS cnt
                 FROM tok JOIN fb USING (doc_id)
                 WHERE term NOT IN ('hash', 'join', 'vector')
                   AND length(term) >= 4
                 GROUP BY 1)
               ORDER BY cnt DESC, term LIMIT 3),
             termw AS (
               SELECT term, CAST(2 AS BIGINT) AS w
               FROM (VALUES ('hash'), ('join'), ('vector')) v(term)
               UNION ALL SELECT term, w FROM expt),
             tf2 AS (
               SELECT tok.doc_id, tok.term, count(*) AS tf
               FROM tok JOIN termw ON tok.term = termw.term GROUP BY 1, 2),
             df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
             scored AS (
               SELECT tf2.doc_id, CAST(sum(
                 (((n_docs - df2.df + 1) * 100000) // (df2.df + 1)) *
                 ((tf2.tf * 22 * t_tokens * 10000) //
                  (10 * t_tokens * tf2.tf + 3 * t_tokens +
                   9 * dl.dl * n_docs)) * termw.w) AS BIGINT) AS score
               FROM tf2 JOIN df2 USING (term)
                 JOIN termw ON tf2.term = termw.term
                 JOIN dl ON tf2.doc_id = dl.doc_id, consts
               GROUP BY 1),
             top AS (SELECT doc_id, score FROM scored
                     ORDER BY score DESC, doc_id LIMIT 10)
             SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
               doc_id, score
             FROM top ORDER BY rk"""))

  /** SPARSE TF-IDF cosine similarity join — the inverted-index text-
    * similarity path (plagiarism/boilerplate detection, lexical near-dup
    * mining), algorithmically distinct from both the minhash family
    * (set-overlap estimates) and the dense-embedding family: documents
    * are sparse integer tf·idf vectors over the term vocabulary, and
    * pair scores come from a TERM-keyed postings equi-join — a pair is
    * scored only if it shares a term that survives the df cap.
    *
    * Exactness: idf is integer ((N·100) div df), weights/dots/norms are
    * exact long sums; the single float op (cosine normalization) runs
    * once per surviving pair on identical integers in both engines.
    *
    * Terms are word TRIGRAMS, not unigrams — the corpus vocabulary is
    * 31 words, so unigram vectors are degenerate (only the single
    * rarest word survives any useful df cap); trigram shingles spread
    * the df distribution (27k terms at sf0.1) and make the cosine a
    * real phrase-overlap measure.
    *
    * Scale shape: the ABSOLUTE df cap (default 100) is LOAD-BEARING —
    * without a cap,
    * stopword-grade postings join every doc to every doc (unigrams
    * measured 124,745 of 124,750 possible pairs at sf0.01 = all-pairs);
    * with it, per-term fan-out is ≤ cap² and the whole plan is
    * shuffle-on-term → shuffle-on-pair hash aggregations. Same df-cap
    * discipline as q_dedup_ngram's inverted index.
    *
    * Terms are INTEGER gram hashes from the graft_gramseq native kernel
    * (window-order, duplicates kept — the tf-preserving sibling of
    * q_dedup_ngram's distinct graft_gramhashes): one codegen'd pass per
    * document replaces a lambda-heavy transform/sequence/element_at
    * formulation whose interpreted evaluation re-split the text three
    * times per gram and ran 11.7s at sf0.1 (profiled: two 6s
    * single-thread tokenize stages). Pair scoring itself is the classic
    * codegen'd shape: equi-self-join of (term, doc, w) postings rows on
    * the term, hash-aggregate per pair — zero per-pair array ops. Norms
    * ride along on the postings rows (joined before the self-join) so no
    * post-aggregation norm joins are needed. */
  private val qSimSparse = Q(
    "q_sim_sparse",
    (s, dir) => {
      // single-row-group input ⇒ the gramSeq tokenize kernel would run
      // in ONE scan task (measured 1.9 s serial at sf0.1); spread it
      // (identity on any production-sized, multi-split input)
      val docs = graft.core.Graft.spreadIfNarrow(
        table(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
      val nDocs = docs.count()
      // ABSOLUTE df-cap default (100): a term in more than 100 docs
      // carries <1% IDF discrimination while fanning out df² pair rows.
      // A relative default (the old N/10) lets postings fan-out grow
      // quadratically with corpus size — the one measured ×12 shuffle
      // superlinearity in the ×1..×10 curves. Override via
      // spark.graft.sparse.dfCap (same knob discipline as
      // spark.graft.ngram.dfCap); recall-vs-cap measured in
      // SparseRecallSpec.
      val dfCap = s.conf.getOption("spark.graft.sparse.dfCap").map { v =>
        val cap = try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.sparse.dfCap must be a positive integer, got '$v'")
        }
        require(cap > 0, s"spark.graft.sparse.dfCap must be > 0, got $cap " +
          "(a non-positive cap would drop every term)")
        cap
      }.getOrElse(100L)
      graft.operators.SparseSimilarity.cosinePairs(docs, nDocs, dfCap)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
              FROM documents),
            th AS (
              SELECT doc_id, list_transform(ws, t -> ${charHashSql("t")}) AS th
              FROM toks),
            tok AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, len(th) - 2),
                  i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS t
              FROM th),
            tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
            n AS (SELECT count(*) AS n FROM documents),
            df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
            cap AS (SELECT t, df FROM df WHERE df <= 100),
            w AS (SELECT tf.doc_id, tf.t, tf.tf * ((n.n * 100) // c.df) AS w
                  FROM tf JOIN cap c USING (t) CROSS JOIN n),
            norm AS (SELECT doc_id, sum(w*w) AS n2 FROM w GROUP BY 1),
            dots AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w*b.w) AS dot
              FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            cos AS (
              SELECT doc_a, doc_b,
                CAST(round(1000000.0 * dot /
                  sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                  AS BIGINT) AS cos_micro
              FROM dots JOIN norm na ON na.doc_id = doc_a
                JOIN norm nb ON nb.doc_id = doc_b)
            SELECT doc_a, doc_b, cos_micro FROM cos
            WHERE cos_micro >= 500000 ORDER BY doc_a, doc_b"""))

  /** KNN self-JOIN — top-k neighbors for EVERY vector, not a query
    * handful: the all-pairs-shaped workhorse behind embedding dedup and
    * cluster seeding, made scale-safe the same way as the dedup family.
    * Candidates come from the hyperplane-LSH bucket EQUI-join (both
    * sides shuffle on the bucket key — no broadcast anywhere, unlike
    * q_sim_lsh whose probe set is a handful); exact cosine runs only
    * within buckets; per-probe top-3 is a rank window whose partitions
    * see only that probe's bucket candidates (WindowGroupLimit prunes to
    * k per partition map-side). At 100 TB the bucket width (nPlanes)
    * is the recall/cost dial — same knob AnnRecallSpec measures. */
  private val qSimKnnJoin = Q(
    "q_sim_knn_join",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val e = table(s, dir, "embeddings")
        .withColumn("bucket", lshBucketNative(col("embedding"), 4))
        .select("vec_id", "bucket", "embedding")
      val probes = e.select(col("vec_id").as("query_id"),
        col("bucket").as("qbucket"), col("embedding").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      e.join(probes,
          col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosineNative(col("qv"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("query_id", "rk", "vec_id", "cosine")
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH e AS (
               SELECT vec_id, embedding,
                 ${lshBucketSql("embedding", 4, 64)} AS bucket
               FROM embeddings),
             scored AS (
               SELECT q.vec_id AS query_id, e.vec_id,
                 ${cosineSql("q.embedding", "e.embedding", 64)} AS cosine
               FROM e JOIN e q ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
             ranked AS (
               SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** IVF-flat approximate top-k — the second ANN scale path next to
    * hyperplane LSH (q_sim_lsh). Coarse quantizer: 16 deterministic
    * data-derived centroids (the embeddings with vec_id 100–115); every
    * vector joins the inverted list of its nearest centroid (one
    * broadcast pass over the corpus); queries probe their nprobe=2
    * nearest lists and score exactly only within them. At scale the scan
    * per query drops to nprobe/K of the corpus, and the assignment pass
    * is embarrassingly parallel — the centroid table is the only
    * broadcast state. */
  private val qSimIvf = Q(
    "q_sim_ivf",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val cent = e.filter(col("vec_id") >= 100 && col("vec_id") <= 115)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      def nearest(src: DataFrame, idCol: String, vecCol: String, n: Int) = {
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("csim").desc, col("cid"))
        src.crossJoin(broadcast(cent))
          .withColumn("csim", cosineNative(col(vecCol), col("cemb")))
          .withColumn("crk", row_number().over(w))
          .filter(col("crk") <= n)
          .drop("cemb", "csim", "crk")
      }
      val lists = nearest(e, "vec_id", "embedding", 1)
      val probes = nearest(
        e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id", "qv", 2)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      lists.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosineNative(col("qv"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("vec_id"),
          col("cid").as("list_id"), col("cosine"))
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH cent AS (
               SELECT vec_id AS cid, embedding AS cemb FROM embeddings
               WHERE vec_id BETWEEN 100 AND 115),
             lists AS (
               SELECT vec_id, embedding, cid FROM (
                 SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${cosineSql("e.embedding", "c.cemb", 64)} DESC, c.cid) AS crk
                 FROM embeddings e CROSS JOIN cent c) t WHERE crk = 1),
             probes AS (
               SELECT query_id, qv, cid FROM (
                 SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${cosineSql("e.embedding", "c.cemb", 64)} DESC, c.cid) AS crk
                 FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 8) t
               WHERE crk <= 2),
             scored AS (
               SELECT p.query_id, l.vec_id, l.cid,
                 ${cosineSql("p.qv", "l.embedding", 64)} AS cosine
               FROM lists l JOIN probes p ON l.cid = p.cid
               WHERE l.vec_id <> p.query_id),
             ranked AS (
               SELECT query_id, vec_id, cid, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cid AS list_id, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  // -- text analysis ---------------------------------------------------

  private val enStops = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private val deStops = Seq("der", "die", "das", "und", "ist", "ein", "mit", "von", "auf", "zu")
  private val frStops = Seq("le", "la", "les", "et", "est", "un", "une", "pour", "avec", "sur")
  private def sqlList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString("[", ", ", "]")

  /** Stopword-profile language ID (n-gram-heuristic family): count hits
    * against per-language stopword lists, argmax with a deterministic
    * tie-break. Embarrassingly parallel per row. */
  private val qTextLangId = Q(
    "q_text_lang_id",
    (s, dir) => {
      // per-language stop hits from the single-pass tokstats kernel (the
      // count/char fields are discarded; the stop probe dominates)
      def hits(stops: Seq[String]) =
        graft.functions.GraftFunctions.tokStatsNative(
          split(lower(col("text")), " "), array(stops.map(lit): _*))
          .getField("stop_hits").cast("int")
      table(s, dir, "documents")
        .withColumn("n_en", hits(enStops))
        .withColumn("n_de", hits(deStops))
        .withColumn("n_fr", hits(frStops))
        .withColumn("pred_lang",
          when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr"), "en")
            .when(col("n_de") >= col("n_fr"), "de")
            .otherwise("fr"))
        .select("doc_id", "lang", "pred_lang", "n_en", "n_de", "n_fr")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, lang,
                 len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(${sqlList(enStops)}, x))) AS n_en,
                 len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(${sqlList(deStops)}, x))) AS n_de,
                 len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(${sqlList(frStops)}, x))) AS n_fr
               FROM documents)
             SELECT doc_id, lang,
               CASE WHEN n_en >= n_de AND n_en >= n_fr THEN 'en'
                    WHEN n_de >= n_fr THEN 'de' ELSE 'fr' END AS pred_lang,
               n_en, n_de, n_fr
             FROM t ORDER BY doc_id"""))

  /** Document quality scoring: length, mean token length, stopword ratio,
    * digit ratio — the usual pre-training corpus filters.
    *
    * Perf shape: the three token statistics (count, char sum, stop hits)
    * come from ONE pass of the codegen'd `graft_tokstats` kernel instead
    * of three interpreted HOF lambdas each re-walking the token array
    * (the round-2 bench measured the composed forms 3–7× slower). */
  private val qTextQuality = Q(
    "q_text_quality",
    (s, dir) => {
      val toks = split(lower(col("text")), " ")
      table(s, dir, "documents")
        .withColumn("ts", graft.functions.GraftFunctions.tokStatsNative(
          toks, array(enStops.map(lit): _*)))
        .withColumn("n_tokens", col("ts.token_count"))
        .withColumn("mean_token_len",
          col("ts.char_sum").cast("double") / col("n_tokens"))
        .withColumn("stop_ratio",
          col("ts.stop_hits").cast("double") / col("n_tokens"))
        .withColumn("digit_ratio",
          (length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
            length(col("text")))
        .withColumn("quality_ok",
          col("n_tokens") >= 5 && col("n_tokens") <= 10000 &&
          col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
        .select("doc_id", "n_tokens", "mean_token_len", "stop_ratio",
          "digit_ratio", "quality_ok")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
               FROM documents),
             m AS (
               SELECT doc_id, text, n_tokens,
                 CAST(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                      AS DOUBLE) / n_tokens AS mean_token_len,
                 CAST(len(list_filter(toks,
                   x -> list_contains(${sqlList(enStops)}, x))) AS DOUBLE) /
                   n_tokens AS stop_ratio,
                 CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                      AS DOUBLE) / length(text) AS digit_ratio
               FROM t)
             SELECT doc_id, n_tokens, mean_token_len, stop_ratio, digit_ratio,
               (n_tokens >= 5 AND n_tokens <= 10000
                AND mean_token_len >= 2.0 AND mean_token_len <= 12.0) AS quality_ok
             FROM m ORDER BY doc_id"""))

  /** Token counting: whitespace tokens, regex (BPE-ish word-piece) tokens,
    * and the chars/4 BPE budget estimate. */
  private val qTextTokens = Q(
    "q_text_tokens",
    (s, dir) => table(s, dir, "documents")
      .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_re",
        size(filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0))
          .cast("long"))
      .withColumn("bpe_est", ceil(col("n_chars") / 4.0).cast("long"))
      .withColumn("len_check", (col("n_chars") === length(col("text"))))
      .select("doc_id", "n_ws", "n_re", "bpe_est", "len_check")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
              CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                t -> length(t) > 0)) AS BIGINT) AS n_re,
              CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_est,
              n_chars = length(text) AS len_check
            FROM documents ORDER BY doc_id"""))

  /** Document fingerprinting: full-content rolling hash plus the minimum
    * 8-char-gram rolling hash (winnowing-style robust fingerprint).
    *
    * Both hashes run as native codegen'd kernels — graft_charhash for the
    * content fold, graft_mingram for the sliding window (per-step mod,
    * congruent with the oracle's one-mod-per-gram unrolled polynomial).
    * Per-row projection, no intermediate char array, no shuffle. */
  private val qTextFingerprint = Q(
    "q_text_fingerprint",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      table(s, dir, "documents")
        .filter(col("n_chars") >= 8)
        .withColumn("content_hash", charHashNative(col("text")))
        .withColumn("min_gram_hash", minGramHashNative(col("text"), 8))
        .select("doc_id", "content_hash", "min_gram_hash")
        .orderBy("doc_id")
    },
    Some(s"""WITH ca AS (
               SELECT doc_id,
                 list_transform(string_split(text, ''),
                   c -> CAST(ascii(c) AS BIGINT)) AS ca
               FROM documents WHERE n_chars >= 8)
             SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), ca),
                 (h, c) -> (h * 131 + c) % $P) AS content_hash,
               list_min(list_transform(generate_series(1, len(ca) - 7),
                 i -> (((((((ca[i] * 131 + ca[i+1]) * 131 + ca[i+2]) * 131 + ca[i+3])
                        * 131 + ca[i+4]) * 131 + ca[i+5]) * 131 + ca[i+6])
                        * 131 + ca[i+7]) % $P)) AS min_gram_hash
             FROM ca ORDER BY doc_id"""))

  /** End-to-end training-data cleaning pipeline — the north-star
    * composition, all stages in one gated query:
    *
    *   1. quality gate (token count + mean token length bounds),
    *   2. exact dedup (content hash, min-doc_id keeper),
    *   3. near-dup removal (minhash/LSH candidates, est. Jaccard ≥ 0.5,
    *      larger doc_id of each pair dropped — deterministic),
    *   4. corpus accounting: per-language surviving docs + BPE budget.
    *
    * Every stage is the scale-shaped formulation its standalone query
    * uses (native kernels, band equi-join, anti-join). One deliberate
    * divergence from the production job: here the post-dedup set feeds
    * both the signature pass and the final anti-join as one lazy plan
    * (two scans); at 100 TB each stage's output would be materialized
    * before the next — that restartable shape is
    * [[qLlmCleanPipelineStaged]], gated against this same oracle. */
  private val qLlmCleanPipeline = Q(
    "q_llm_clean_pipeline",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val toks = split(lower(col("text")), " ")
      val meanLen = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).cast("double") / size(toks)
      val quality = table(s, dir, "documents")
        .withColumn("n_tokens", size(toks).cast("long"))
        .withColumn("mean_token_len", meanLen)
        .filter(col("n_tokens") >= 5 && col("n_tokens") <= 10000 &&
          col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
      val wDup = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val afterExact = quality
        .withColumn("dup_rn", row_number().over(wDup))
        .filter(col("dup_rn") === 1)
        .drop("dup_rn")
      val sig = afterExact
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 3)
        .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
      val bands = minhashBands(s, sig)
      val dropped = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("est_jaccard",
          aggregate(zip_with(col("a.sg"), col("b.sg"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x) / lit(16.0))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("b.doc_id").as("doc_id")).distinct()
      afterExact.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(ceil(col("n_chars") / 4.0).cast("long")).as("bpe_budget"))
        .orderBy(col("lang"))
    },
    Some(cleanPipelineSql))

  /** Shared oracle for the lazy and staged pipeline variants — identical
    * semantics, so one SQL gates both (the two Spark plans differentially
    * gate each other through it). */
  private lazy val cleanPipelineSql: String =
    s"""WITH q AS (
               SELECT doc_id, lang, n_chars, text,
                 string_split(lower(text), ' ') AS tl
               FROM documents
               WHERE len(string_split(lower(text), ' ')) BETWEEN 5 AND 10000
                 AND CAST(CAST(list_sum(list_transform(string_split(lower(text), ' '),
                       x -> length(x))) AS BIGINT) AS DOUBLE)
                     / len(string_split(lower(text), ' ')) BETWEEN 2.0 AND 12.0),
             e AS (
               SELECT * FROM (
                 SELECT q.*, row_number() OVER (PARTITION BY md5(text)
                   ORDER BY doc_id) AS dup_rn FROM q) t
               WHERE dup_rn = 1),
             th AS (
               SELECT doc_id, list_transform(tl, t -> ${charHashSql("t")}) AS th
               FROM e WHERE len(tl) >= 3),
             hashed AS (
               SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
               FROM th),
             sig AS (
               SELECT doc_id, ${minhashSigSql("hs", 16)} AS sg FROM hashed),
             bands AS (
               SELECT doc_id, j AS band_id, sg,
                 list_aggregate(list_transform(sg[j*4+1:j*4+4],
                   x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS band_key
               FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) planes),
             dropped AS (
               SELECT DISTINCT b.doc_id
               FROM bands a JOIN bands b
                 ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
               WHERE CAST(list_sum(list_transform(generate_series(1, 16),
                 i -> CASE WHEN a.sg[i] = b.sg[i] THEN 1 ELSE 0 END)) AS BIGINT)
                 / 16.0 >= 0.5)
             SELECT lang, count(*) AS n_docs,
               CAST(sum(ceil(n_chars / 4.0)) AS BIGINT) AS bpe_budget
             FROM e WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
             GROUP BY lang ORDER BY lang"""

  /** The cleaning pipeline with MATERIALIZED stage boundaries — the
    * restartable 100 TB shape, and the analog of the reference's Store
    * layer persisting every stage's partition files
    * (/root/reference/src/Core/Store.hs: writeStore between map and
    * reduce). Each boundary (quality gate, exact dedup, minhash
    * signatures, drop list) is written to parquet and read back, so:
    *
    *   - every downstream pass re-reads a compact columnar stage instead
    *     of recomputing the upstream plan (the lazy variant scans the
    *     post-dedup set twice through the full upstream pipeline);
    *   - a failed stage restarts from the previous boundary, not from
    *     the raw corpus;
    *   - stage outputs are audit-able corpus artifacts (the usual
    *     data-governance requirement on training pipelines).
    *
    * Differential gate: identical oracle SQL as the lazy variant — both
    * Spark plans must hash-match the same DuckDB recomputation. */
  private val qLlmCleanPipelineStaged = Q(
    "q_llm_clean_pipeline_staged",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val stageRoot = artifactDir(s, "stages", "clean_pipeline")
      def materialize(df: DataFrame, name: String): DataFrame = {
        val path = s"$stageRoot/$name"
        df.write.mode("overwrite").parquet(path)
        graft.core.Graft.cachedSchemaParquet(s, path)
      }
      val toks = split(lower(col("text")), " ")
      val meanLen = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (a, x) => a + x).cast("double") / size(toks)
      val quality = materialize(
        table(s, dir, "documents")
          .withColumn("n_tokens", size(toks).cast("long"))
          .withColumn("mean_token_len", meanLen)
          .filter(col("n_tokens") >= 5 && col("n_tokens") <= 10000 &&
            col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
          .select("doc_id", "lang", "n_chars", "text"),
        "s1_quality")
      val wDup = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val afterExact = materialize(
        quality
          .withColumn("dup_rn", row_number().over(wDup))
          .filter(col("dup_rn") === 1)
          .drop("dup_rn"),
        "s2_exact_dedup")
      val sig = materialize(
        afterExact
          .withColumn("tl", split(lower(col("text")), " "))
          .filter(size(col("tl")) >= 3)
          .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
          .select("doc_id", "sg"),
        "s3_minhash_sig")
      val bands = minhashBands(s, sig)
      val dropped = materialize(
        bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
          .withColumn("est_jaccard",
            aggregate(zip_with(col("a.sg"), col("b.sg"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, x) => acc + x) / lit(16.0))
          .filter(col("est_jaccard") >= 0.5)
          .select(col("b.doc_id").as("doc_id")).distinct(),
        "s4_near_dup_drops")
      afterExact.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(ceil(col("n_chars") / 4.0).cast("long")).as("bpe_budget"))
        .orderBy(col("lang"))
    },
    Some(cleanPipelineSql))

  /** The injected native functions driven from SQL TEXT — proves the
    * SparkSessionExtensions/FunctionRegistry path end-to-end: a user can
    * call the graft kernels from plain SQL and get oracle-exact results.
    * (The DuckDB twins are the composed list-lambda forms.) */
  private val qSqlNativeFns = Q(
    "q_sql_native_fns",
    (s, dir) => {
      table(s, dir, "documents").createOrReplaceTempView("documents_nf")
      s.sql("""SELECT doc_id,
                 graft_charhash(text) AS content_hash,
                 graft_simhash(split(lower(text), ' ')) AS simhash,
                 graft_mingram(text, 8) AS min_gram_hash
               FROM documents_nf WHERE n_chars >= 8
               ORDER BY doc_id""")
    },
    Some(s"""WITH h AS (
               SELECT doc_id, text,
                 list_transform(string_split(lower(text), ' '),
                   t -> ${charHashSql("t")}) AS hs
               FROM documents WHERE n_chars >= 8),
             ca AS (
               SELECT doc_id, text, hs,
                 list_transform(string_split(text, ''),
                   c -> CAST(ascii(c) AS BIGINT)) AS ca
               FROM h)
             SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), ca),
                 (x, y) -> (x * 131 + y) % $P) AS content_hash,
               CAST(list_sum(list_transform(generate_series(0, 31),
                 j -> CASE WHEN list_sum(list_transform(hs,
                        t -> 2*(${bitSql("t", "j")}) - 1)) > 0
                      THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT)
                 AS simhash,
               list_min(list_transform(generate_series(1, len(ca) - 7),
                 i -> (((((((ca[i] * 131 + ca[i+1]) * 131 + ca[i+2]) * 131 + ca[i+3])
                        * 131 + ca[i+4]) * 131 + ca[i+5]) * 131 + ca[i+6])
                        * 131 + ca[i+7]) % $P)) AS min_gram_hash
             FROM ca ORDER BY doc_id"""))

  /** Corpus n-gram frequency table: top-25 word bigrams by document
    * frequency — the vocabulary/statistics pass every tokenizer build
    * runs. All-codegen shape: tokens exploded with position, bigrams
    * formed by a per-document lead() window (doc_id is high-cardinality
    * — fully parallel), document frequency = count over the distinct
    * (doc, bigram) set. No interpreted string lambdas. */
  private val qTextNgramFreq = Q(
    "q_text_ngram_freq",
    (s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("i", "t")))
        .withColumn("nxt", lead(col("t"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("t"), col("nxt")).as("bigram"))
        .distinct()
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("bigram"))
        .limit(25)
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tl
              FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
            bg AS (
              SELECT doc_id, unnest(list_distinct(
                list_transform(generate_series(1, len(tl) - 1),
                  i -> tl[i] || ' ' || tl[i+1]))) AS bigram
              FROM t)
            SELECT bigram, count(*) AS doc_freq FROM bg
            GROUP BY bigram ORDER BY doc_freq DESC, bigram LIMIT 25"""))

  /** Statistical LM quality scoring (the CCNet/KenLM filtering step: a
    * language model trained ON the corpus scores every document, and
    * high-perplexity outliers — gibberish, boilerplate soup, wrong
    * language — get filtered): a corpus bigram model is trained in two
    * group-bys (unigram counts, bigram counts), and each document's
    * score is the sum over its bigram occurrences of an EXACT INTEGER
    * surprisal — bitlen(count(w1)) − bitlen(count(w1 w2)), where bitlen
    * is the binary-representation length (Spark `bin`, DuckDB
    * `format('{:b}')`). That is −log2 P(w2|w1) discretized to whole
    * bits with NO float log anywhere (the repo-wide portable-hash
    * discipline: a libm `ln` differing in one ulp between engines would
    * break the hash gate) — ranking quality is unchanged since the
    * discretization is monotone per term. avg_mbits (millibits per
    * bigram, integer division) is the cross-length-comparable
    * perplexity proxy an operator thresholds on.
    *
    * 100 TB shape: two count group-bys with map-side partials (shuffle
    * = distinct unigrams/bigrams, not token occurrences), then two
    * equi-joins of the bigram stream against the count tables keyed on
    * token/bigram (NO broadcast assumption — corpus vocabularies
    * outgrow any driver), and one final per-doc aggregation. Everything
    * codegen'd; surprisal never floats. */
  private val qTextLmScore = Q(
    "q_text_lm_score",
    (s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("i", "t")))
      val bigrams = toks
        .withColumn("nxt", lead(col("t"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id"), col("t").as("w1"),
          concat_ws(" ", col("t"), col("nxt")).as("bigram"))
      val uc = toks.groupBy(col("t").as("w1"))
        .agg(count(lit(1)).as("c1"))
      val bc = bigrams.groupBy(col("bigram"))
        .agg(count(lit(1)).as("c2"))
      bigrams
        .join(uc, "w1").join(bc, "bigram")
        .withColumn("bits",
          (length(bin(col("c1"))) - length(bin(col("c2")))).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("lm_bits"))
        .withColumn("avg_mbits",
          expr("lm_bits * 1000 div n_bigrams"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tl
              FROM documents),
            toks AS (SELECT doc_id, unnest(tl) AS w FROM t),
            uc AS (SELECT w, count(*) AS c1 FROM toks GROUP BY w),
            bg AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tl) - 1),
                i -> tl[i] || ' ' || tl[i+1])) AS bigram
              FROM t WHERE len(tl) >= 2),
            bc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
            sc AS (
              SELECT g.doc_id,
                length(format('{:b}', u.c1)) -
                  length(format('{:b}', b.c2)) AS bits
              FROM bg g
              JOIN bc b USING (bigram)
              JOIN uc u ON u.w = string_split(g.bigram, ' ')[1])
            SELECT doc_id, count(*) AS n_bigrams,
              CAST(sum(bits) AS BIGINT) AS lm_bits,
              CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS avg_mbits
            FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Exact-substring duplication detection (the ExactSubstr pass of
    * training-data dedup: documents sharing any sufficiently-long exact
    * token run are flagged and the duplicated SPANS measured, so a
    * pipeline can trim repeated boilerplate instead of dropping whole
    * documents). A token k-gram (k=6 words) that occurs ≥2 times
    * anywhere in the corpus marks all its occurrences as duplicated;
    * per document, overlapping hits merge into maximal spans
    * (gaps-and-islands over covered token indices), and the output is
    * each affected document's span count, duplicated-token count, and
    * integer duplication rate (permille).
    *
    * 100 TB shape: the only corpus-wide step is one count group-by on
    * the k-gram (map-side partials; shuffle = distinct grams, never
    * occurrences), duplicated grams rejoin the occurrence stream by
    * gram key, and everything after is per-document (covered-index
    * explode is a bounded ×k, islands window partitioned by the
    * high-cardinality doc_id). No all-pairs step exists at any size.
    * The gram string could be replaced by its 64-bit hash to shrink the
    * shuffle payload; kept textual here so the oracle replays it
    * verbatim. */
  private val qDedupSubstr = Q(
    "q_dedup_substr",
    (s, dir) => {
      val k = 6
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("i", "t")))
      val grams = toks
        .withColumn("g", concat_ws(" ",
          col("t") +: (1 until k).map(j => lead(col("t"), j).over(w)): _*))
        .withColumn("lst", lead(col("t"), k - 1).over(w))
        .filter(col("lst").isNotNull)
        .select(col("doc_id"), col("i"), col("g"))
      val dupg = grams.groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select("g")
      val hits = grams.join(dupg, "g").select(col("doc_id"), col("i"))
      val covered = hits
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + lit(k - 1))).as("idx"))
        .distinct()
      val wi = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      val spans = covered
        .withColumn("island", col("idx") - row_number().over(wi))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("island")).as("n_spans"),
          count(lit(1)).as("dup_tokens"))
      val ntok = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"))
      spans.join(ntok, "doc_id")
        .withColumn("dup_permille", expr("dup_tokens * 1000 div n_tokens"))
        .select("doc_id", "n_spans", "dup_tokens", "n_tokens", "dup_permille")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tl
              FROM documents),
            occ AS (
              SELECT doc_id, unnest(generate_series(1, len(tl) - 5)) AS i
              FROM t WHERE len(tl) >= 6),
            grams AS (
              SELECT o.doc_id, o.i,
                t.tl[o.i] || ' ' || t.tl[o.i+1] || ' ' || t.tl[o.i+2] || ' ' ||
                t.tl[o.i+3] || ' ' || t.tl[o.i+4] || ' ' || t.tl[o.i+5] AS g
              FROM occ o JOIN t USING (doc_id)),
            dupg AS (
              SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
            hits AS (
              SELECT doc_id, i FROM grams JOIN dupg USING (g)),
            covered AS (
              SELECT DISTINCT doc_id, i + j AS idx
              FROM hits, generate_series(0, 5) AS s(j)),
            isl AS (
              SELECT doc_id, idx,
                idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
                  AS island
              FROM covered),
            spans AS (
              SELECT doc_id, count(DISTINCT island) AS n_spans,
                count(*) AS dup_tokens
              FROM isl GROUP BY doc_id),
            ntok AS (
              SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens FROM t)
            SELECT s.doc_id, s.n_spans, s.dup_tokens, n.n_tokens,
              s.dup_tokens * 1000 // n.n_tokens AS dup_permille
            FROM spans s JOIN ntok n USING (doc_id)
            ORDER BY s.doc_id"""))

  /** The TRIM transform completing ExactSubstr dedup (q_dedup_substr
    * finds the duplicated spans; this produces the CLEANED corpus): every
    * token covered by a corpus-duplicated ≥6-token run is removed, and
    * each document's surviving token stream is fingerprinted with the
    * portable rolling hash over its token hashes IN POSITION ORDER — so
    * the gate pins the exact kept-token sequence (an off-by-one in span
    * coverage, a dropped survivor, or a reorder all hash-mismatch), not
    * just counts. Every document appears in the output (undamaged docs
    * keep their full stream; fully-duplicated docs keep zero tokens,
    * fingerprint 0).
    *
    * 100 TB shape: same single corpus-wide gram count group-by as
    * q_dedup_substr; the trim itself is a doc-keyed anti-join (kept =
    * tokens ∖ covered) plus one per-doc ordered fold — bounded per-doc
    * state, doc_id-keyed shuffles only. */
  private val qDedupSubstrTrim = Q(
    "q_dedup_substr_trim",
    (s, dir) => {
      val k = 6
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("i", "t")))
      val grams = toks
        .withColumn("g", concat_ws(" ",
          col("t") +: (1 until k).map(j => lead(col("t"), j).over(w)): _*))
        .withColumn("lst", lead(col("t"), k - 1).over(w))
        .filter(col("lst").isNotNull)
        .select(col("doc_id"), col("i"), col("g"))
      val dupg = grams.groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select("g")
      val covered = grams.join(dupg, "g")
        .select(col("doc_id").as("covered_doc"),
          explode(sequence(col("i"), col("i") + lit(k - 1))).as("idx"))
        .distinct()
      val kept = toks
        .join(covered, toks("doc_id") === covered("covered_doc") &&
          toks("i") === covered("idx"), "left_anti")
        .withColumn("th", graft.functions.GraftFunctions.charHashNative(col("t")))
      val keptAgg = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("kept_tokens"),
          aggregate(
            transform(array_sort(collect_list(struct(col("i"), col("th")))),
              x => x.getField("th")),
            lit(0L),
            (h, t) => (h * lit(131L) + t) % lit(PortableHash.P))
            .as("kept_fp"))
      val ntok = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"))
      ntok.join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("kept_fp"), lit(0L)).as("kept_fp"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS tl
              FROM documents),
            toks AS (
              SELECT doc_id, unnest(generate_series(1, len(tl))) AS i
              FROM t),
            tok AS (
              SELECT o.doc_id, o.i, t.tl[o.i] AS tk
              FROM toks o JOIN t USING (doc_id)),
            occ AS (
              SELECT doc_id, unnest(generate_series(1, len(tl) - 5)) AS i
              FROM t WHERE len(tl) >= 6),
            grams AS (
              SELECT o.doc_id, o.i,
                t.tl[o.i] || ' ' || t.tl[o.i+1] || ' ' || t.tl[o.i+2] || ' ' ||
                t.tl[o.i+3] || ' ' || t.tl[o.i+4] || ' ' || t.tl[o.i+5] AS g
              FROM occ o JOIN t USING (doc_id)),
            dupg AS (
              SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
            covered AS (
              SELECT DISTINCT doc_id, i + j AS idx
              FROM (SELECT doc_id, i FROM grams JOIN dupg USING (g)) h,
                generate_series(0, 5) AS s(j)),
            kept AS (
              SELECT k.doc_id, k.i, ${charHashSql("k.tk")} AS th
              FROM tok k
              WHERE NOT EXISTS (SELECT 1 FROM covered c
                WHERE c.doc_id = k.doc_id AND c.idx = k.i)),
            ka AS (
              SELECT doc_id, count(*) AS kept_tokens,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list(th ORDER BY i)),
                  (h, x) -> (h * 131 + x) % ${PortableHash.P}) AS kept_fp
              FROM kept GROUP BY doc_id),
            nt AS (
              SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens FROM t)
            SELECT n.doc_id, n.n_tokens,
              COALESCE(ka.kept_tokens, 0) AS kept_tokens,
              COALESCE(ka.kept_fp, 0) AS kept_fp
            FROM nt n LEFT JOIN ka USING (doc_id)
            ORDER BY n.doc_id"""))

  // -- multimodal ------------------------------------------------------

  /** Multimodal column plumbing: documents carried as opaque binary
    * payloads with typed metadata plus cheap byte-derived columns — the
    * schema contract (binary + metadata + derived features) under the
    * gate. The REAL decode/feature extraction lives in
    * operators/Multimodal (decodeFeatures sniffs and decodes PPM/PNG/
    * WAV/Y4M; gated by q_multimodal_decode/_audio/_video/_video420/
    * _hist/_phash); the fake_* columns here are explicitly labeled
    * byte-arithmetic placeholders exercising the metadata plumbing,
    * not decode claims. */
  private val qMultimodal = Q(
    "q_multimodal",
    (s, dir) => table(s, dir, "documents")
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("payload_md5", md5(col("payload")))
      .withColumn("fake_width", (col("n_bytes") % 640).cast("long"))
      .withColumn("fake_height", ((col("n_bytes") * 7) % 480).cast("long"))
      .withColumn("fake_frames", (col("n_bytes") % 30 + 1).cast("long"))
      .select("doc_id", "n_bytes", "payload_md5", "fake_width", "fake_height",
        "fake_frames")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS payload_md5,
              CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
              CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS fake_height,
              CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS fake_frames
            FROM documents ORDER BY doc_id"""))

  /** REAL image decode under the gate (operators/Multimodal): a
    * deterministic PPM fixture per document — dims and every raster byte
    * a pure function of doc_id — is ENCODED to actual P6 bytes
    * (header + comment + raw raster), PARSED back by the real PPM
    * parser inside the batched mapPartitions decoder, reduced to exact
    * per-channel pixel sums, and aspect-fitted into a 16×12 box with the
    * shared integer arithmetic. The oracle recomputes dims, channel sums
    * (closed-form over the pixel formula: byte j = (id·31 + j·7) mod
    * 256, channel stride 3 → 21·p + {0,7,14}) and fit dims WITHOUT any
    * image code — so a header-grammar bug, an off-by-one in the raster
    * copy, or a channel swap in the decoder all hash-mismatch.
    *
    * 100 TB shape: pure narrow map — payloads decode where they sit, no
    * shuffle until the final display sort; PNG payloads take the
    * javax.imageio branch of the same decoder (spec-covered). */
  private val qMultimodalDecode = Q(
    "q_multimodal_decode",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeAndFit(m.syntheticImages(table(s, dir, "documents")), 16, 12)
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(8 + doc_id % 16 AS BIGINT) AS w,
                CAST(6 + doc_id % 12 AS BIGINT) AS h
              FROM documents),
            s AS (
              SELECT doc_id, w, h,
                CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                  p -> (doc_id*31 + 21*p) % 256)) AS BIGINT) AS sum_r,
                CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                  p -> (doc_id*31 + 21*p + 7) % 256)) AS BIGINT) AS sum_g,
                CAST(list_sum(list_transform(generate_series(0, w*h - 1),
                  p -> (doc_id*31 + 21*p + 14) % 256)) AS BIGINT) AS sum_b
              FROM d)
            SELECT doc_id AS media_id,
              CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
              sum_r, sum_g, sum_b,
              CAST(CASE WHEN w <= 16 AND h <= 12 THEN w
                        WHEN 16*h <= 12*w THEN 16
                        ELSE GREATEST(1, (12*w) // h) END AS INTEGER) AS fit_w,
              CAST(CASE WHEN w <= 16 AND h <= 12 THEN h
                        WHEN 16*h <= 12*w THEN GREATEST(1, (16*h) // w)
                        ELSE 12 END AS INTEGER) AS fit_h
            FROM s ORDER BY media_id"""))

  /** REAL audio decode under the gate (operators/Multimodal): a
    * deterministic 16-bit PCM clip per document — rate, channels, frame
    * count and every sample a pure function of doc_id — is ENCODED to
    * actual WAV bytes (RIFF header, fmt chunk, a deliberately odd-sized
    * LIST chunk so the word-alignment rule is exercised, data chunk),
    * PARSED back by the real RIFF chunk-walker inside the batched
    * mapPartitions decoder, and reduced to exact integer stats
    * (Σ|sample|, peak). The oracle recomputes everything in closed form
    * (sample k = (id·37 + k·11) mod 4001 − 2000) WITHOUT audio code —
    * a header-grammar bug, an endianness swap, or a channel-count
    * mistake all hash-mismatch. 100 TB shape: pure narrow map, like the
    * image decode. */
  private val qMultimodalAudio = Q(
    "q_multimodal_audio",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeAudioStats(m.syntheticAudio(table(s, dir, "documents")))
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
                CAST(1 + doc_id % 2 AS INTEGER) AS n_channels,
                60 + doc_id % 40 AS frames
              FROM documents),
            s AS (
              SELECT doc_id, sample_rate, n_channels, frames,
                CAST(list_sum(list_transform(
                  generate_series(0, frames * n_channels - 1),
                  k -> abs((doc_id*37 + k*11) % 4001 - 2000))) AS BIGINT) AS sum_abs,
                CAST(list_max(list_transform(
                  generate_series(0, frames * n_channels - 1),
                  k -> abs((doc_id*37 + k*11) % 4001 - 2000))) AS INTEGER) AS peak
              FROM d)
            SELECT doc_id AS media_id, sample_rate, n_channels,
              CAST(frames AS BIGINT) AS n_frames, sum_abs, peak
            FROM s ORDER BY media_id"""))

  /** REAL video decode under the gate (operators/Multimodal): a
    * deterministic 4:4:4 YUV clip per document — dims, frame count, fps
    * and every plane byte a pure function of doc_id — is ENCODED to
    * actual Y4M bytes (YUV4MPEG2 stream header, per-frame FRAME lines
    * with an application parameter on odd frames so the frame-header
    * grammar is exercised, raw planes), PARSED back by the real Y4M
    * walker inside the batched mapPartitions decoder, FRAME-SAMPLED
    * (every 2nd frame), and reduced to the sampled frames' exact luma
    * sum. The oracle recomputes everything in closed form (luma byte j
    * of frame f = (id·13 + f·101 + j·7) mod 256) WITHOUT video code —
    * a header bug, a plane-stride mistake, or an off-by-one in the
    * sample step all hash-mismatch. 100 TB shape: pure narrow map. */
  private val qMultimodalVideo = Q(
    "q_multimodal_video",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeVideoStats(m.syntheticVideo(table(s, dir, "documents")), 2)
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(4 + doc_id % 8 AS BIGINT) AS w,
                CAST(4 + doc_id % 6 AS BIGINT) AS h,
                3 + doc_id % 5 AS nf,
                CAST(24 + (doc_id % 2) * 6 AS INTEGER) AS fps_num
              FROM documents),
            s AS (
              SELECT doc_id, w, h, nf, fps_num,
                CAST(list_sum(flatten(list_transform(
                  list_filter(generate_series(0, nf - 1), f -> f % 2 = 0), f ->
                    list_transform(generate_series(0, w*h - 1),
                      j -> (doc_id*13 + f*101 + j*7) % 256)))) AS BIGINT)
                  AS sum_y_sampled,
                CAST(len(list_filter(generate_series(0, nf - 1), f -> f % 2 = 0))
                  AS INTEGER) AS n_sampled
              FROM d)
            SELECT doc_id AS media_id,
              CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
              CAST(nf AS INTEGER) AS n_frames, fps_num, sum_y_sampled, n_sampled
            FROM s ORDER BY media_id"""))

  /** REAL 4:2:0 video decode under the gate: deterministic C420 clips —
    * dims INCLUDING odd widths/heights (ceil-half chroma geometry), the
    * chroma tag rotating through 420jpeg/420mpeg2/420paldv, every plane
    * byte a pure function of doc_id — are ENCODED to actual subsampled
    * Y4M bytes, PARSED back by the real walker (which normalizes chroma
    * to 4:4:4 by 2×2 nearest replication), frame-sampled, and reduced
    * to per-plane exact sums. The oracle recomputes the UPSAMPLED
    * chroma sums in closed form — full-res pixel (y,x) reads subsampled
    * cell (y div 2)·⌈w/2⌉ + (x div 2) — so a wrong plane stride, a
    * floor-half-vs-ceil-half mistake on odd dims, or a swapped U/V
    * plane all hash-mismatch. 100 TB shape: pure narrow map, like the
    * 4:4:4 decode. */
  private val qMultimodalVideo420 = Q(
    "q_multimodal_video420",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeVideoYuvStats(m.syntheticVideo420(table(s, dir, "documents")), 2)
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(3 + doc_id % 8 AS BIGINT) AS w,
                CAST(3 + doc_id % 6 AS BIGINT) AS h,
                2 + doc_id % 4 AS nf
              FROM documents),
            s AS (
              SELECT doc_id, w, h, nf,
                CAST(list_sum(flatten(list_transform(
                  list_filter(generate_series(0, nf - 1), f -> f % 2 = 0), f ->
                    list_transform(generate_series(0, w*h - 1),
                      j -> (doc_id*13 + f*101 + j*7) % 256)))) AS BIGINT)
                  AS sum_y_sampled,
                CAST(list_sum(flatten(list_transform(
                  list_filter(generate_series(0, nf - 1), f -> f % 2 = 0), f ->
                    list_transform(generate_series(0, w*h - 1),
                      j -> (doc_id*19 + f*7 +
                        (((j // w) // 2) * ((w + 1) // 2) + (j % w) // 2) * 11)
                        % 256)))) AS BIGINT)
                  AS sum_u_sampled,
                CAST(list_sum(flatten(list_transform(
                  list_filter(generate_series(0, nf - 1), f -> f % 2 = 0), f ->
                    list_transform(generate_series(0, w*h - 1),
                      j -> (doc_id*23 + f*5 +
                        (((j // w) // 2) * ((w + 1) // 2) + (j % w) // 2) * 13)
                        % 256)))) AS BIGINT)
                  AS sum_v_sampled,
                CAST(len(list_filter(generate_series(0, nf - 1), f -> f % 2 = 0))
                  AS INTEGER) AS n_sampled
              FROM d)
            SELECT doc_id AS media_id,
              CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
              CAST(nf AS INTEGER) AS n_frames,
              sum_y_sampled, sum_u_sampled, sum_v_sampled, n_sampled
            FROM s ORDER BY media_id"""))

  /** REAL per-channel pixel histograms under the gate: the
    * q_multimodal_decode PPM fixtures decoded and reduced to exact
    * 8-bin channel histograms, emitted LONG FORM (one row per image ×
    * channel × bin, empty bins included — plain relational rows, no
    * array encodings to compare). The oracle counts the closed-form
    * pixel values per bin; a channel swap, a bin-boundary off-by-one,
    * or a dropped empty bin all mismatch. These histograms are also
    * what [[graft.operators.Multimodal.decodeFeatures]] normalizes
    * into its content-derived embedding — this gate pins the counting.
    * 100 TB shape: narrow flatMap, 24 rows out per image. */
  private val qMultimodalHist = Q(
    "q_multimodal_hist",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeImageHist(m.syntheticImages(table(s, dir, "documents")))
        .toDF()
        .orderBy(col("media_id"), col("channel"), col("bin"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(8 + doc_id % 16 AS BIGINT) AS w,
                CAST(6 + doc_id % 12 AS BIGINT) AS h
              FROM documents),
            c(channel, coff) AS (VALUES ('r', 0), ('g', 7), ('b', 14)),
            bins AS (SELECT unnest(generate_series(0, 7)) AS bin)
            SELECT d.doc_id AS media_id, c.channel,
              CAST(bins.bin AS INTEGER) AS bin,
              CAST(len(list_filter(generate_series(0, w*h - 1),
                p -> ((doc_id*31 + 21*p + coff) % 256) // 32 = bin))
                AS BIGINT) AS cnt
            FROM d, c, bins
            ORDER BY media_id, channel, bin"""))

  /** REAL perceptual hashes under the gate: the same fixtures decoded
    * and fingerprinted by aHash (8×8 NN-downsampled integer luma vs the
    * exact grid mean, compared as 64·cell > Σcells — no float mean) and
    * dHash (8×9 luma grid, horizontal gradient signs), each emitted as
    * unsigned 32-bit halves so neither engine reasons about 64-bit sign
    * wraparound. NN sampling means the oracle can name the exact source
    * pixel of every cell ((cy·h div 8)·w + cx·w div 8) and recompute
    * both hashes in closed form: a transposed grid, a wrong rounding
    * rule, or a >=-for-> slip flips bits and hash-mismatches. This is
    * the visual near-dup fingerprint — the hash columns feed the same
    * banded/bucketed join machinery as SimHash over text. */
  private val qMultimodalPhash = Q(
    "q_multimodal_phash",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeImagePHash(m.syntheticImages(table(s, dir, "documents")))
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(8 + doc_id % 16 AS BIGINT) AS w,
                CAST(6 + doc_id % 12 AS BIGINT) AS h
              FROM documents),
            g AS (
              SELECT doc_id,
                list_transform(
                  list_transform(generate_series(0, 63),
                    i -> ((i // 8) * h // 8) * w + ((i % 8) * w // 8)),
                  p -> 299 * ((doc_id*31 + 21*p) % 256)
                     + 587 * ((doc_id*31 + 21*p + 7) % 256)
                     + 114 * ((doc_id*31 + 21*p + 14) % 256)) AS acell,
                list_transform(
                  list_transform(generate_series(0, 71),
                    i -> ((i // 9) * h // 8) * w + ((i % 9) * w // 9)),
                  p -> 299 * ((doc_id*31 + 21*p) % 256)
                     + 587 * ((doc_id*31 + 21*p + 7) % 256)
                     + 114 * ((doc_id*31 + 21*p + 14) % 256)) AS dcell
              FROM d),
            s AS (
              SELECT doc_id, acell, dcell, list_sum(acell) AS atotal
              FROM g)
            SELECT doc_id AS media_id,
              CAST(list_sum(list_transform(generate_series(0, 31),
                i -> CASE WHEN 64*acell[i+1] > atotal
                     THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS ahash_lo,
              CAST(list_sum(list_transform(generate_series(32, 63),
                i -> CASE WHEN 64*acell[i+1] > atotal
                     THEN 1::BIGINT << (i - 32) ELSE 0 END)) AS BIGINT) AS ahash_hi,
              CAST(list_sum(list_transform(generate_series(0, 31),
                i -> CASE WHEN dcell[(i // 8) * 9 + (i % 8) + 2]
                            > dcell[(i // 8) * 9 + (i % 8) + 1]
                     THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS dhash_lo,
              CAST(list_sum(list_transform(generate_series(32, 63),
                i -> CASE WHEN dcell[(i // 8) * 9 + (i % 8) + 2]
                            > dcell[(i // 8) * 9 + (i % 8) + 1]
                     THEN 1::BIGINT << (i - 32) ELSE 0 END)) AS BIGINT) AS dhash_hi
            FROM s ORDER BY media_id"""))

  /** VISUAL near-dup detection — the image member of the dedup family:
    * decode → aHash fingerprint → 16-bit BAND bucketing (4 bands; by
    * pigeonhole any pair within hamming 3 shares an intact band) →
    * candidate equi-join ON the band → exact hamming verify (codegen'd
    * bit_count over xor) → keep-smallest-id, the same
    * candidate-generation discipline as q_dedup_minhash/_simhash: the
    * join is banded, NEVER all-pairs, so the shuffle carries
    * fingerprint-sized rows and the pair count stays ~N·bucketSize at
    * any corpus scale. Fixtures plant near-dup pairs (doc_id % 5 == 1
    * clones its predecessor with one pixel brightened — a one-grid-cell
    * perturbation); the oracle recomputes every aHash closed-form,
    * bands and verifies in SQL, so Spark and DuckDB must agree on
    * every candidate AND every hamming distance bit-for-bit. */
  /** Shared oracle CTE chain `d, dd, g, hsh(doc_id, lo, hi)`: the
    * closed-form aHash of every syntheticImagesNearDup fixture — used by
    * both the batch dedup (q_dedup_phash) and the incremental ingest
    * (q_ingest_neardup_phash) oracles. */
  private val phashHashCtesSql: String =
    """d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 1 THEN doc_id - 1 ELSE doc_id END AS base,
      |    (doc_id % 5 = 1) AS pert
      |  FROM documents),
      |dd AS (
      |  SELECT doc_id, base, pert,
      |    CAST(8 + base % 16 AS BIGINT) AS w,
      |    CAST(6 + base % 12 AS BIGINT) AS h
      |  FROM d),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(
      |      list_transform(generate_series(0, 63),
      |        i -> ((i // 8) * h // 8) * w + ((i % 8) * w // 8)),
      |      p -> 299 * ((base*31 + 21*p
      |             + CASE WHEN pert AND p = 0 THEN 16 ELSE 0 END) % 256)
      |         + 587 * ((base*31 + 21*p + 7
      |             + CASE WHEN pert AND p = 0 THEN 16 ELSE 0 END) % 256)
      |         + 114 * ((base*31 + 21*p + 14
      |             + CASE WHEN pert AND p = 0 THEN 16 ELSE 0 END) % 256))
      |      AS acell
      |  FROM dd),
      |hsh AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(generate_series(0, 31),
      |      i -> CASE WHEN 64*acell[i+1] > atotal
      |           THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(generate_series(32, 63),
      |      i -> CASE WHEN 64*acell[i+1] > atotal
      |           THEN 1::BIGINT << (i - 32) ELSE 0 END)) AS BIGINT) AS hi
      |  FROM (SELECT doc_id, acell, list_sum(acell) AS atotal FROM g))""".stripMargin

  private val qDedupPhash = Q(
    "q_dedup_phash",
    (s, dir) => {
      val m = graft.operators.Multimodal
      val h = m.decodeImagePHash(
          m.syntheticImagesNearDup(table(s, dir, "documents"))).toDF()
        .select(col("media_id"), col("ahash_lo"), col("ahash_hi"))
      val bands = graft.operators.BandCap.filterDegenerate(
        h.select(col("media_id"),
          posexplode(array(
            col("ahash_lo").bitwiseAND(lit(65535L)),
            shiftrightunsigned(col("ahash_lo"), 16),
            col("ahash_hi").bitwiseAND(lit(65535L)),
            shiftrightunsigned(col("ahash_hi"), 16))))
          .select(col("media_id"), col("pos").as("bi"), col("col").as("bv")),
        Seq("bi", "bv"),
        graft.operators.BandCap.cap(s, "spark.graft.phash.bandCap"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("ka"), col("b.media_id").as("kb"))
        .distinct()
      cand.join(h.as("ha"), col("ka") === col("ha.media_id"))
        .join(h.as("hb"), col("kb") === col("hb.media_id"))
        .select(col("ka"), col("kb"),
          (bit_count(col("ha.ahash_lo").bitwiseXOR(col("hb.ahash_lo"))) +
            bit_count(col("ha.ahash_hi").bitwiseXOR(col("hb.ahash_hi"))))
            .as("dist"))
        .filter(col("dist") <= 3)
        .groupBy(col("kb").as("media_id"))
        .agg(min(col("ka")).as("keeper"), count(lit(1)).as("n_dups"))
        .orderBy("media_id")
    },
    Some(s"""WITH $phashHashCtesSql,
            bands AS (
              SELECT doc_id,
                unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
                unnest([0, 1, 2, 3]) AS bi
              FROM hsh),
            cand AS (
              SELECT DISTINCT a.doc_id AS ka, b.doc_id AS kb
              FROM bands a JOIN bands b
                ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
            ham AS (
              SELECT ka, kb,
                bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) AS dist
              FROM cand
              JOIN hsh ha ON ha.doc_id = ka
              JOIN hsh hb ON hb.doc_id = kb)
            SELECT kb AS media_id, min(ka) AS keeper, count(*) AS n_dups
            FROM ham WHERE dist <= 3
            GROUP BY kb ORDER BY media_id"""))

  /** VISUAL near-dup INCREMENTAL INGESTION — q_ingest_neardup's image
    * sibling, same [[graft.operators.IncrementalIngest.ingestNearDup]]
    * machinery with pHash band keys instead of MinHash LSH bands (the
    * operator is generic over the banding): history bootstraps the
    * Store with the crawl's aHash bands (key = bandIdx·2¹⁶ + bandValue,
    * disjoint across bands), the delta (every third image) is rejected
    * when ANY of its bands was seen — by the committed snapshot or a
    * smaller-id delta image — and all delta bands append (the all-seen
    * contract, so round decomposition is invisible and this shares the
    * one-shot oracle discipline). Scale shape: 4 band longs per image,
    * history⟂delta is a bk-keyed LEFT SEMI hash-partitioned on both
    * sides — the history is never broadcast.
    *
    * Honesty note: like its MinHash sibling this filter is
    * VERIFICATION-FREE (band seen ⇒ reject, no hamming check — the
    * crawl-frontier trade: cheap, monotone, composable). The synthetic
    * fixtures cluster in band space (498/500 distinct hashes but only
    * 527/2000 distinct band values — formulaic images correlate in
    * 16-bit slices), so in-fixture rejection is much more aggressive
    * than natural images would see; the gate pins EXACTNESS of the
    * contract, not recall. Radius-verified dedup is q_dedup_phash. */
  /** (doc_id, ahash_lo, ahash_hi, bk) — 4 disjoint band-key rows per
    * fixture image (bk = bandIdx·2¹⁶ + 16-bit band value). Shared by the
    * batch ingest gate and its live foreachBatch twin in Streaming. */
  private[queries] def phashBandedDocs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m = graft.operators.Multimodal
    m.decodeImagePHash(m.syntheticImagesNearDup(docs)).toDF()
      .select(col("media_id").as("doc_id"),
        col("ahash_lo"), col("ahash_hi"),
        posexplode(array(
          col("ahash_lo").bitwiseAND(lit(65535L)),
          shiftrightunsigned(col("ahash_lo"), 16),
          col("ahash_hi").bitwiseAND(lit(65535L)),
          shiftrightunsigned(col("ahash_hi"), 16))))
      .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"),
        (col("pos").cast("long") * 65536L + col("col")).as("bk"))
  }

  /** One-shot oracle shared by q_ingest_neardup_phash and its live twin
    * (the all-seen contract makes the round decomposition invisible). */
  private[queries] val phashIngestOracle: String =
    s"""WITH $phashHashCtesSql,
       |bands AS (
       |  SELECT doc_id,
       |    unnest([0*65536 + lo % 65536, 1*65536 + lo // 65536,
       |            2*65536 + hi % 65536, 3*65536 + hi // 65536]) AS bk
       |  FROM hsh),
       |hist AS (SELECT DISTINCT bk FROM bands WHERE doc_id % 3 <> 0),
       |delta AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
       |firstb AS (
       |  SELECT bk, min(doc_id) AS first_doc FROM delta GROUP BY bk),
       |dropped AS (
       |  SELECT DISTINCT d.doc_id FROM delta d
       |  WHERE EXISTS (SELECT 1 FROM hist h WHERE h.bk = d.bk)
       |  UNION
       |  SELECT DISTINCT d.doc_id FROM delta d
       |  JOIN firstb f ON d.bk = f.bk AND d.doc_id > f.first_doc)
       |SELECT h.doc_id AS media_id, h.lo AS ahash_lo, h.hi AS ahash_hi
       |FROM hsh h
       |WHERE h.doc_id % 3 = 0
       |  AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = h.doc_id)
       |ORDER BY media_id""".stripMargin

  private val qIngestNeardupPhash = Q(
    "q_ingest_neardup_phash",
    (s, dir) => {
      val store = artifactDir(s, "kvsink", "q_ingest_neardup_phash")
      val docs = table(s, dir, "documents")
      phashBandedDocs(docs.filter(col("doc_id") % 3 =!= 0))
        .select("bk").distinct()
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$store/batch=0").mode("append").save()
      val delta = phashBandedDocs(docs.filter(col("doc_id") % 3 === 0))
      graft.operators.IncrementalIngest.ingestNearDup(s, store, 1L,
          delta.select("doc_id", "ahash_lo", "ahash_hi").distinct(),
          delta.select("doc_id", "bk"))
        .select(col("doc_id").as("media_id"),
          col("ahash_lo"), col("ahash_hi"))
        .orderBy("media_id")
    },
    Some(phashIngestOracle))

  /** REAL pixel resize under the gate: the same PPM fixtures as
    * q_multimodal_decode, decoded and NEAREST-NEIGHBOR-resampled into
    * the 16×12 aspect fit — target pixel (ty, tx) reads source
    * (ty·h div fh, tx·w div fw), exact integer index math — then
    * reduced to the RESAMPLED raster's channel sums. The oracle
    * recomputes which source pixels the resampler must pick and their
    * formula values in closed form: a wrong rounding rule, a transposed
    * index, or a stride bug picks different pixels and hash-mismatches.
    * Scale shape: pure narrow map, like the decode. */
  private val qMultimodalResample = Q(
    "q_multimodal_resample",
    (s, dir) => {
      val m = graft.operators.Multimodal
      m.decodeResample(m.syntheticImages(table(s, dir, "documents")), 16, 12)
        .toDF()
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (
              SELECT doc_id,
                CAST(8 + doc_id % 16 AS BIGINT) AS w,
                CAST(6 + doc_id % 12 AS BIGINT) AS h
              FROM documents),
            f AS (
              SELECT doc_id, w, h,
                CAST(CASE WHEN w <= 16 AND h <= 12 THEN w
                          WHEN 16*h <= 12*w THEN 16
                          ELSE GREATEST(1, (12*w) // h) END AS BIGINT) AS fw,
                CAST(CASE WHEN w <= 16 AND h <= 12 THEN h
                          WHEN 16*h <= 12*w THEN GREATEST(1, (16*h) // w)
                          ELSE 12 END AS BIGINT) AS fh
              FROM d),
            s AS (
              SELECT doc_id, w, h, fw, fh,
                CAST(list_sum(flatten(list_transform(generate_series(0, fh - 1), ty ->
                  list_transform(generate_series(0, fw - 1), tx ->
                    (doc_id*31 + ((((ty*h) // fh)*w + (tx*w) // fw)*3 + 0)*7) % 256))))
                  AS BIGINT) AS rsum_r,
                CAST(list_sum(flatten(list_transform(generate_series(0, fh - 1), ty ->
                  list_transform(generate_series(0, fw - 1), tx ->
                    (doc_id*31 + ((((ty*h) // fh)*w + (tx*w) // fw)*3 + 1)*7) % 256))))
                  AS BIGINT) AS rsum_g,
                CAST(list_sum(flatten(list_transform(generate_series(0, fh - 1), ty ->
                  list_transform(generate_series(0, fw - 1), tx ->
                    (doc_id*31 + ((((ty*h) // fh)*w + (tx*w) // fw)*3 + 2)*7) % 256))))
                  AS BIGINT) AS rsum_b
              FROM f)
            SELECT doc_id AS media_id,
              CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
              CAST(fw AS INTEGER) AS fit_w, CAST(fh AS INTEGER) AS fit_h,
              rsum_r, rsum_g, rsum_b
            FROM s ORDER BY media_id"""))

  /** Benchmark DECONTAMINATION — the eval-integrity gate every serious
    * training pipeline runs before a model ships: flag training documents
    * that share any token 5-gram with the benchmark/eval set, so leaked
    * eval data can be excluded from training. The fixture models the
    * real-world scenario directly: the "benchmark" is a fixed slice of
    * the corpus (doc_id <= 20) whose text IS present in the training
    * corpus — plus whatever organic n-gram overlaps exist (at sf0.01:
    * the 20 leaked docs + 4 organic hits).
    *
    * 100 TB shape: per-doc distinct 5-gram hashes via the codegen'd
    * rolling-hash kernel (one pass, no UDF), benchmark gram set
    * BROADCAST (eval suites are small by construction — the asymmetry is
    * the design), contaminated ids from a broadcast-joined explode +
    * distinct, final per-lang accounting one hash-agg. Nothing all-pairs,
    * no shuffle on the wide side beyond the id distinct. */
  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val docs = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 5)
        .withColumn("grams", gramHashesNative(col("tl"), 5))
        .select("doc_id", "lang", "grams")
      val benchGrams = docs.filter(col("doc_id") <= 20)
        .select(explode(col("grams")).as("g")).distinct()
      val contaminated = docs
        .select(col("doc_id"), explode(col("grams")).as("g"))
        .join(broadcast(benchGrams), "g")
        .select(col("doc_id").as("cid")).distinct()
      docs.join(contaminated, col("doc_id") === col("cid"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("cid").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
        .orderBy(col("lang"))
    },
    Some {
      // the kernel's left-fold rolling hash, unrolled for n=5
      val fold = (1 until 5).foldLeft("th[i]")((a, g) =>
        s"($a * 131 + th[i+$g]) % $P")
      s"""WITH d AS (
            SELECT doc_id, lang, string_split(lower(text), ' ') AS tl
            FROM documents
            WHERE len(string_split(lower(text), ' ')) >= 5),
          t AS (
            SELECT doc_id, lang,
              list_transform(tl, t -> ${charHashSql("t")}) AS th
            FROM d),
          g AS (
            SELECT doc_id, lang,
              list_distinct(list_transform(
                generate_series(1, len(th) - 4), i -> $fold)) AS grams
            FROM t),
          bench AS (
            SELECT DISTINCT unnest(grams) AS bg FROM g WHERE doc_id <= 20),
          contaminated AS (
            SELECT DISTINCT doc_id
            FROM (SELECT doc_id, unnest(grams) AS gg FROM g) e
            WHERE gg IN (SELECT bg FROM bench))
          SELECT lang, count(*) AS n_train,
            CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM contaminated)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
          FROM g GROUP BY lang ORDER BY lang"""
    })

  /** SEMANTIC decontamination — the embedding-space twin of
    * q_decontaminate: flag training vectors whose cosine to ANY
    * benchmark/eval vector clears a threshold, catching paraphrased or
    * re-encoded eval leakage that shares no exact n-gram. The fixture
    * plants the leakage it must find (the q_decontaminate stance): the
    * bench set (vec_id < 40) is re-injected into the corpus under
    * offset ids, so every planted clone MUST be flagged at cosine 1.0,
    * plus whatever organic near-bench vectors exist.
    *
    * 100 TB shape: candidates come from a hyperplane-LSH bucket
    * equi-join (the q_dedup_embedding discipline — never all-pairs);
    * the BENCH side is broadcast (eval suites are small by construction,
    * the same asymmetry q_decontaminate exploits), so the corpus scan
    * never shuffles at all — flag extraction is one broadcast join plus
    * a hash-agg on the high-cardinality vec_id. Dot products and norms
    * are quantized-integer kernels; the cosine double is derived from
    * the same integers in both engines so the ≥ τ cut cannot
    * float-flip. */
  private val qDecontamSemantic = Q(
    "q_decontam_semantic",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val e = table(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") < 40)
        .withColumn("bucket", lshBucketNative(col("embedding"), 6))
        .withColumn("bnq", quantDotNative(col("embedding"), col("embedding")))
        .select(col("vec_id").as("bench_id"), col("bucket"),
          col("embedding").as("bv"), col("bnq"))
      val corpus = e.filter(col("vec_id") >= 40)
        .unionAll(e.filter(col("vec_id") < 40)
          .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
            col("embedding"), col("label")))
        .withColumn("bucket", lshBucketNative(col("embedding"), 6))
        .withColumn("nq", quantDotNative(col("embedding"), col("embedding")))
      corpus.join(broadcast(bench), "bucket")
        .withColumn("dotq", quantDotNative(col("embedding"), col("bv")))
        .withColumn("cosine",
          (col("dotq").cast("double") / lit(1e9)) /
            (sqrt(col("nq").cast("double") / lit(1e9)) *
             sqrt(col("bnq").cast("double") / lit(1e9))))
        .filter(col("cosine") >= 0.3)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_bench_hits"), max(col("cosine")).as("max_cos"))
        .withColumn("leaked", col("vec_id") >= 1000000000L)
        .select("vec_id", "n_bench_hits", "max_cos", "leaked")
        .orderBy("vec_id")
    },
    Some(s"""WITH corpus AS (
               SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 40
               UNION ALL
               SELECT vec_id + 1000000000, embedding FROM embeddings
               WHERE vec_id < 40),
             c AS (
               SELECT vec_id, embedding,
                 ${lshBucketSql("embedding", 6, 64)} AS bucket,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(round(CAST(embedding[i] AS DOUBLE) *
                     CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT)))
                   AS BIGINT) AS nq
               FROM corpus),
             b AS (
               SELECT vec_id AS bench_id, embedding AS bv,
                 ${lshBucketSql("embedding", 6, 64)} AS bucket,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(round(CAST(embedding[i] AS DOUBLE) *
                     CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT)))
                   AS BIGINT) AS bnq
               FROM embeddings WHERE vec_id < 40),
             cand AS (
               SELECT c.vec_id, c.nq, b.bnq,
                 CAST(list_sum(list_transform(generate_series(1, 64), i ->
                   CAST(round(CAST(c.embedding[i] AS DOUBLE) *
                     CAST(b.bv[i] AS DOUBLE) * 1000000000.0) AS BIGINT)))
                   AS BIGINT) AS dotq
               FROM c JOIN b USING (bucket)),
             scored AS (
               SELECT vec_id,
                 (CAST(dotq AS DOUBLE) / 1000000000.0) /
                   (sqrt(CAST(nq AS DOUBLE) / 1000000000.0) *
                    sqrt(CAST(bnq AS DOUBLE) / 1000000000.0)) AS cosine
               FROM cand)
             SELECT vec_id, count(*) AS n_bench_hits, max(cosine) AS max_cos,
               vec_id >= 1000000000 AS leaked
             FROM scored WHERE cosine >= 0.3
             GROUP BY vec_id ORDER BY vec_id"""))

  /** INT8 SCALAR QUANTIZATION for vector search — the memory-bandwidth
    * lever production ANN uses before any index: per-dimension symmetric
    * scales (max |x| over the corpus, a 64-double table at ANY corpus
    * size) map each float32 vector to 64 int8 codes, and candidate
    * scoring becomes an exact INTEGER dot product — 4× less bandwidth
    * per candidate, SIMD-friendly, and (unlike float sums) bit-identical
    * under any evaluation order, so Spark and DuckDB rank identically
    * with no quantization drift between engines. Top-5 per query by
    * quantized score; VectorQuantizeSpec measures recall@5 of the
    * quantized ranking against exact-cosine truth and pins the code
    * range.
    *
    * Scale shape: scale derivation is one map-side-combined aggregation
    * (64 counter rows, counters-only network) broadcast back as a
    * one-row vector; quantization is a per-row codegen'd projection; the
    * query×corpus scoring reuses q_sim_topk's broadcast-query shape (the
    * brute-force tier — the LSH/IVF bucketed tiers next door are the
    * candidate-pruning path, and compose with quantized scoring
    * unchanged). */
  private val qVectorQuantize = Q(
    "q_vector_quantize",
    (s, dir) => {
      import graft.operators.VectorQuantize
      val dims = 64
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val scales = VectorQuantize.scales(e, "embedding", dims)
      val qe = e.crossJoin(broadcast(scales))
        .select(col("vec_id"),
          VectorQuantize.encode(col("embedding"), col("sv"), dims).as("qv"))
      val q = qe.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("qv").as("qq"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      qe.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", VectorQuantize.intDot(col("qq"), col("qv")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("query_id", "rk", "vec_id", "score")
        .orderBy("query_id", "rk")
    },
    Some("""WITH scales AS (
              SELECT d, CASE WHEN max(abs(CAST(embedding[d] AS DOUBLE))) = 0
                THEN 1 ELSE max(abs(CAST(embedding[d] AS DOUBLE))) END AS s
              FROM embeddings,
                (SELECT unnest(generate_series(1, 64)) AS d) dims
              GROUP BY d),
            sv AS (SELECT list(s ORDER BY d) AS sv FROM scales),
            qe AS (
              SELECT vec_id,
                list_transform(generate_series(1, 64),
                  i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 127 / sv[i])
                       AS BIGINT)) AS qv
              FROM embeddings, sv),
            q AS (SELECT vec_id AS query_id, qv AS qq FROM qe WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id,
                CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qq[i] * e.qv[i])) AS BIGINT) AS score
              FROM qe e CROSS JOIN q WHERE e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, vec_id, score,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, vec_id) AS rk
              FROM scored)
            SELECT query_id, rk, vec_id, score FROM ranked
            WHERE rk <= 5 ORDER BY query_id, rk"""))

  override val queries: Seq[Q] = Seq(
    qDedupExact, qDedupNorm, qDedupMinhash, qDedupClusters,
    qDedupClustersDurable, qGraphTriangles,
    qDedupSimhash, qDedupNgram,
    qDedupEmbedding, qSimTopk, qSimLsh, qSimIvf, qSimKnnJoin, qVectorQuantize,
    qSimSparse, qLlmCleanPipeline,
    qLlmCleanPipelineStaged, qSqlNativeFns, qTextNgramFreq,
    qTextLangId, qTextQuality, qTextTokens, qTextFingerprint, qTextTopterms,
    qTextChi2, qDriftTerms,
    qVocabEncode, qTextBm25,
    qAggVectorCentroid, qAggVectorDispersion, qMultimodal,
    qMultimodalDecode, qMultimodalResample, qMultimodalAudio,
    qMultimodalVideo, qMultimodalVideo420, qMultimodalHist, qMultimodalPhash,
    qDedupPhash, qIngestNeardupPhash,
    qDecontaminate, qTextPii, qDedupFuzzy, qTextLmScore, qDedupSubstr,
    qDecontamSemantic, qTextBm25Persisted, qTextBm25Incremental,
    qTextBm25Compacted, qSearchHybridRrf, qSearchMmr, qSearchPrfRm3,
    qDedupSubstrTrim)

  /** Fuzzy string-match join (entity resolution): name pairs within
    * Levenshtein distance 2. Scale shape, in order: (1) match on the
    * DISTINCT-value dictionary, never the row stream — entity vocabularies
    * are orders of magnitude smaller than fact tables; (2) candidate
    * generation is an equi-join on a blocking key (last token) AND a
    * ±2 length band — the edit-distance lower bound |len(a)-len(b)| ≤ d
    * makes the band exact, not heuristic; (3) the O(len²) Levenshtein DP
    * runs only inside blocks. All-pairs never happens. Levenshtein is the
    * standard DP — bit-identical across engines.
    * (lazy val: defined below the registry Seq that references it.) */
  private lazy val qDedupFuzzy = Q(
    "q_dedup_fuzzy",
    (s, dir) => {
      val names = table(s, dir, "part").select(col("p_name")).distinct()
        .withColumn("ln", length(col("p_name")))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val a = names.select(col("p_name").as("name_a"), col("ln").as("ln_a"),
        col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("ln").as("ln_b"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("ln_b").between(col("ln_a") - 2, col("ln_a") + 2) &&
          col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"))
        .orderBy("name_a", "name_b")
    },
    Some("""WITH n AS (SELECT DISTINCT p_name FROM part),
            p AS (SELECT p_name, length(p_name) AS ln,
                    split_part(p_name, ' ', -1) AS blk FROM n)
            SELECT a.p_name AS name_a, b.p_name AS name_b,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM p a JOIN p b ON a.blk = b.blk
              AND b.ln BETWEEN a.ln - 2 AND a.ln + 2
              AND a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 2
            ORDER BY name_a, name_b"""))

  /** PII scrubbing — the redaction pass every training corpus gets before
    * (NOTE: defined as a `lazy val` because it sits below the registry
    * Seq that references it — a plain val would still be null there.)
    * the tokenizer: emails and phone-like tokens replaced with typed
    * placeholders, per-doc redaction counts kept for corpus accounting.
    * Deterministic synthetic PII (built from doc_id) is appended to each
    * document first, so the gate verifies real multi-occurrence
    * replacement semantics, not a no-op pass over PII-free text.
    *
    * Patterns stay in the RE2 ∩ java.util.regex common subset (no
    * lookaround, no backrefs) so Spark and the DuckDB oracle — and any
    * other engine a corpus pipeline hands these rules to — match
    * identically. Scale shape: pure per-row narrow map over the scan,
    * whole-stage codegen, zero shuffle before the gate's ORDER BY. */
  private lazy val qTextPii = Q(
    "q_text_pii",
    (s, dir) => {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phonePat = "\\+1-555-[0-9]{4}"
      table(s, dir, "documents")
        .withColumn("text2",
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(".")))
        .withColumn("n_emails", regexp_count(col("text2"), lit(emailPat)).cast("long"))
        .withColumn("n_phones", regexp_count(col("text2"), lit(phonePat)).cast("long"))
        .withColumn("clean",
          regexp_replace(regexp_replace(col("text2"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("clean"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(text2,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
              regexp_replace(
                regexp_replace(text2,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
            FROM (SELECT doc_id,
                    text || ' contact user' || doc_id || '@example.com or +1-555-' ||
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS text2
                  FROM documents)
            ORDER BY doc_id"""))
}
