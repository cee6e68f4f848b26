package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft._
import graft.operators.KMeansQuant

/** Unsupervised clustering over the embedding corpus and the semantic
  * dedup built on top of it (SURVEY §2.3 north-star: the SemDeDup-family
  * curation step a training-data pipeline runs between exact dedup and
  * near-dup pruning — cluster the embedding space, then prune
  * near-duplicates only WITHIN clusters, so candidate generation is a
  * cluster-keyed equi-join, never corpus-quadratic).
  *
  * Both queries are integer-exact end to end (quantized coordinates,
  * integer squared-L2, quantized means, quantized dot products) so the
  * DuckDB oracle reproduces every assignment and every pruned pair
  * bit-for-bit — see [[graft.operators.KMeansQuant]] for the arithmetic
  * contract and the 100 TB shape notes.
  */
object Clustering extends QueryGroup {

  private val K = 8
  private val Dim = 64
  private val Rounds = 3
  private val SeedLo = 200L
  private val SeedHi = SeedLo + K - 1

  /** Shared fit: quantize, seed from the deterministic data-derived rows
    * vec_id ∈ [200, 207] (cid = vec_id − 200; the same convention as
    * q_sim_ivf's coarse quantizer), run three Lloyd passes. Returns the
    * assigned frame AND the final centroids (the IVF query needs both). */
  private def fitted(s: org.apache.spark.sql.SparkSession, dir: String,
      normalized: Boolean = false)
      : (org.apache.spark.sql.DataFrame, Seq[Seq[Long]]) = {
    import s.implicits._
    val e = table(s, dir, "embeddings").select("vec_id", "embedding")
    val qv =
      if (normalized) KMeansQuant.quantizeNormalized(col("embedding"))
      else KMeansQuant.quantize(col("embedding"))
    val data = e.withColumn("qv", qv)
    val seeds = data.filter(
        col("vec_id").between(SeedLo, SeedHi))
      .orderBy("vec_id")
      .select("qv").as[Seq[Long]].collect().toSeq
    KMeansQuant.fit(s, data, "qv", seeds, Rounds, Dim)
  }

  /** Lloyd k-means, K=8, three assignment passes: every vector's final
    * cluster and its exact integer squared distance. The per-round plan
    * is one codegen'd projection against broadcast-literal centroids
    * (assignment — no join, no shuffle) plus one mergeable typed
    * aggregation carrying 64 longs per (cluster, partition) (update);
    * driver state is the K×64 centroid table only. */
  private val qClusterKmeans = Q(
    "q_cluster_kmeans",
    (s, dir) => fitted(s, dir)._1
      .select(col("vec_id"), col("cluster"), col("distq"))
      .orderBy("vec_id"),
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim)}
            SELECT vec_id, cid AS cluster, distq FROM a$Rounds ORDER BY vec_id"""))

  /** SemDeDup: within each k-means cluster, a vector is dropped when an
    * in-cluster neighbor with a SMALLER id sits above the cosine
    * threshold; the keeper is the smallest such neighbor. Candidate
    * generation is the cluster-keyed self-equi-join — at corpus scale K
    * grows with N (fixed expected cluster size), so the pair count stays
    * ~N·clusterSize, never N². Cosines ride the quantized integer dot
    * kernel (graft_quantdot), the q_dedup_embedding discipline, so the
    * ≥ τ cut cannot float-flip between engines. */
  private val qDedupSemantic = Q(
    "q_dedup_semantic",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val m = fitted(s, dir)._1
        .withColumn("nq", quantDotNative(col("embedding"), col("embedding")))
        .select("vec_id", "cluster", "embedding", "nq")
      m.as("a")
        .join(m.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dotq", quantDotNative(col("a.embedding"), col("b.embedding")))
        .withColumn("cosine",
          (col("dotq").cast("double") / lit(1e9)) /
            (sqrt(col("a.nq").cast("double") / lit(1e9)) *
             sqrt(col("b.nq").cast("double") / lit(1e9))))
        .filter(col("cosine") >= 0.3)
        .groupBy(col("b.vec_id").as("vec_id"), col("b.cluster").as("cluster"))
        .agg(min(col("a.vec_id")).as("keeper"), count(lit(1)).as("n_dups"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim)},
             n AS (
               SELECT vec_id,
                 list_sum(list_transform(generate_series(1, $Dim), i ->
                   CAST(round(CAST(embedding[i] AS DOUBLE) *
                     CAST(embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT))) AS nq
               FROM embeddings),
             pairs AS (
               SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cid AS cluster,
                 (CAST(list_sum(list_transform(generate_series(1, $Dim), i ->
                   CAST(round(CAST(ea.embedding[i] AS DOUBLE) *
                     CAST(eb.embedding[i] AS DOUBLE) * 1000000000.0) AS BIGINT)))
                   AS DOUBLE) / 1000000000.0)
                 / (sqrt(CAST(na.nq AS DOUBLE) / 1000000000.0) *
                    sqrt(CAST(nb.nq AS DOUBLE) / 1000000000.0)) AS cosine
               FROM a$Rounds x JOIN a$Rounds y
                 ON x.cid = y.cid AND x.vec_id < y.vec_id
               JOIN embeddings ea ON ea.vec_id = x.vec_id
               JOIN embeddings eb ON eb.vec_id = y.vec_id
               JOIN n na ON na.vec_id = x.vec_id
               JOIN n nb ON nb.vec_id = y.vec_id)
             SELECT vec_b AS vec_id, cluster, min(vec_a) AS keeper,
               count(*) AS n_dups
             FROM pairs WHERE cosine >= 0.3
             GROUP BY vec_b, cluster ORDER BY vec_b"""))

  /** Durable-round k-means: same three Lloyd passes under the
    * `Fixpoint.Durable` policy, centroid table committed through the
    * store each round (crash between rounds resumes from the last
    * committed centroids instead of re-paying the scans).
    * Durability must not change a single assignment: same oracle as
    * q_cluster_kmeans. */
  private val qClusterKmeansDurable = Q(
    "q_cluster_kmeans_durable",
    (s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val data = e.withColumn("qv", KMeansQuant.quantize(col("embedding")))
      val seeds = data.filter(col("vec_id").between(SeedLo, SeedHi))
        .orderBy("vec_id")
        .select("qv").as[Seq[Long]].collect().toSeq
      val ckpt = artifactDir(s, "ckpt", "q_cluster_kmeans_durable")
      val (assigned, _) = KMeansQuant.fit(s, data, "qv", seeds, Rounds, Dim,
        graft.operators.Fixpoint.Durable(ckpt))
      assigned.select(col("vec_id"), col("cluster"), col("distq"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim)}
            SELECT vec_id, cid AS cluster, distq FROM a$Rounds ORDER BY vec_id"""))

  /** IVF-flat ANN with a TRAINED coarse quantizer (FAISS-style index
    * construction, operator composition: the k-means fit feeds the index
    * build): inverted lists ARE the final Lloyd assignment, queries
    * probe their nprobe=2 nearest centroids and score exactly only
    * inside those lists. Against q_sim_ivf's raw-data-row centroids,
    * trained centroids track the corpus distribution, so lists are
    * balanced and recall-per-probe is higher — measured in
    * AnnRecallSpec at matched list count and probe budget (K=16,
    * nprobe 2/4/6): trained 0.333/0.583/0.750 recall@3 vs raw rows
    * 0.250/0.500/0.625, training strictly ahead at every budget. The
    * fit runs on NORMALIZED quantized coordinates (spherical k-means):
    * retrieval is cosine, and on unit vectors L2 ordering IS cosine
    * ordering (‖a−b‖² = 2−2cosθ) — defensive here (this corpus arrives
    * unit-norm) but the guard that keeps the quantizer correct for any
    * embedding source. List affinity ranks by
    * the SAME exact integer squared-L2 the fit used — no float ranking
    * until the final cosine. Scale: probe ranking is Q·K rows off a
    * codegen'd literal-centroid projection; the candidate scan per
    * query is nprobe/K of the corpus via the cid equi-join. */
  private val qSimIvfKmeans = Q(
    "q_sim_ivf_kmeans",
    (s, dir) => {
      import graft.functions.GraftFunctions._
      val (assigned, cents) = fitted(s, dir, normalized = true)
      val lists = assigned.select(col("vec_id"), col("embedding"),
        col("cluster").as("cid"))
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("cdist"), col("cid"))
      val probes = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qemb"),
          posexplode(KMeansQuant.distArray(col("qv"), cents)))
        .select(col("query_id"), col("qemb"),
          col("pos").cast("long").as("cid"), col("col").as("cdist"))
        .withColumn("crk", row_number().over(wProbe))
        .filter(col("crk") <= 2)
        .select("query_id", "qemb", "cid")
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      lists.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosineNative(col("qemb"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("vec_id"),
          col("cid").as("list_id"), col("cosine"))
        .orderBy("query_id", "rk")
    },
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim,
               normalized = true)},
             probes AS (
               SELECT query_id, cid FROM (
                 SELECT e.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
                 FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id < 8) t
               WHERE crk <= 2),
             scored AS (
               SELECT p.query_id, x.vec_id, x.cid,
                 ${graft.operators.PortableHash.cosineSql(
                   "qe.embedding", "ce.embedding", Dim)} AS cosine
               FROM a$Rounds x JOIN probes p
                 ON x.cid = p.cid AND x.vec_id <> p.query_id
               JOIN embeddings qe ON qe.vec_id = p.query_id
               JOIN embeddings ce ON ce.vec_id = x.vec_id),
             ranked AS (
               SELECT query_id, vec_id, cid, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cid AS list_id, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** Persisted-index twin of q_sim_ivf_kmeans — the BUILD ONCE / PROBE
    * MANY lifecycle: [[graft.operators.AnnIndex.build]] fits the same
    * spherical coarse quantizer and commits centroids + cid-partitioned
    * inverted lists through the Store's commit log; the probe then runs
    * entirely off the committed generation (no re-fit, only the probed
    * list partitions read — static partition pruning on the collected
    * probe-cid set). The fit math is byte-identical to the inline query,
    * so this SHARES its oracle: persistence must not change a single
    * retrieval result. AnnIndexSpec covers the lifecycle pieces the gate
    * can't see (probe-from-fresh-session, versioned rebuild + asOf
    * time travel, orphan-generation rejection, pruned scan shape). */
  private val qSimIvfPersisted = Q(
    "q_sim_ivf_persisted",
    (s, dir) => {
      val idx = artifactDir(s, "ann", "q_sim_ivf_persisted")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(e, "vec_id", "embedding",
        (SeedLo until SeedLo + K).toSeq, Rounds, Dim, idx)
      graft.operators.AnnIndex.probe(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim,
               normalized = true)},
             probes AS (
               SELECT query_id, cid FROM (
                 SELECT e.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
                 FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id < 8) t
               WHERE crk <= 2),
             scored AS (
               SELECT p.query_id, x.vec_id, x.cid,
                 ${graft.operators.PortableHash.cosineSql(
                   "qe.embedding", "ce.embedding", Dim)} AS cosine
               FROM a$Rounds x JOIN probes p
                 ON x.cid = p.cid AND x.vec_id <> p.query_id
               JOIN embeddings qe ON qe.vec_id = p.query_id
               JOIN embeddings ce ON ce.vec_id = x.vec_id),
             ranked AS (
               SELECT query_id, vec_id, cid, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
               FROM scored)
             SELECT query_id, rk, vec_id, cid AS list_id, cosine FROM ranked
             WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** Oracle for the incremental-maintenance ANN gates: the coarse
    * quantizer fits on the corpus MINUS the delta block
    * (vec_id ∈ [300, 399] — contiguous so it exists at every SF, and
    * disjoint from both the seed rows [200, 207] and the probe queries
    * [0, 8)), then the delta assigns against the FROZEN final centroids
    * (c2), exactly what [[graft.operators.AnnIndex.appendDelta]] does.
    * Candidates are the union of fit-time and delta assignments. */
  private[queries] def ivfIncrementalOracle: String = {
    val qn = KMeansQuant.quantizeNormalizedSql("embedding", Dim)
    val head = Seq(
      s"""eq AS (SELECT vec_id, $qn AS qv FROM embeddings
         |       WHERE vec_id NOT BETWEEN 300 AND 399)""".stripMargin,
      s"""c0 AS (SELECT CAST(vec_id - $SeedLo AS BIGINT) AS cid, qv AS cv
         |       FROM eq WHERE vec_id BETWEEN $SeedLo AND $SeedHi)""".stripMargin)
    val body = (1 to Rounds).flatMap { r =>
      val assign = KMeansQuant.assignCteSql(s"c${r - 1}", s"a$r", Dim)
      if (r < Rounds)
        Seq(assign, KMeansQuant.updateCteSql(s"a$r", s"c${r - 1}", s"c$r", Dim))
      else Seq(assign)
    }
    val tail = Seq(
      s"""eqB AS (SELECT vec_id, $qn AS qv FROM embeddings
         |        WHERE vec_id BETWEEN 300 AND 399)""".stripMargin,
      KMeansQuant.assignCteSql(s"c${Rounds - 1}", "aB", Dim, eq = "eqB"),
      s"""allx AS (SELECT vec_id, cid FROM a$Rounds
         |         UNION ALL SELECT vec_id, cid FROM aB)""".stripMargin)
    s"""WITH ${(head ++ body ++ tail).mkString(",\n")},
       |     probes AS (
       |       SELECT query_id, cid FROM (
       |         SELECT e.vec_id AS query_id, c.cid,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
       |         FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id < 8) t
       |       WHERE crk <= 2),
       |     scored AS (
       |       SELECT p.query_id, x.vec_id, x.cid,
       |         ${graft.operators.PortableHash.cosineSql(
                   "qe.embedding", "ce.embedding", Dim)} AS cosine
       |       FROM allx x JOIN probes p
       |         ON x.cid = p.cid AND x.vec_id <> p.query_id
       |       JOIN embeddings qe ON qe.vec_id = p.query_id
       |       JOIN embeddings ce ON ce.vec_id = x.vec_id),
       |     ranked AS (
       |       SELECT query_id, vec_id, cid, cosine,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cosine DESC, vec_id) AS rk
       |       FROM scored)
       |SELECT query_id, rk, vec_id, cid AS list_id, cosine FROM ranked
       |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
  }

  /** INCREMENTAL INDEX MAINTENANCE gated end-to-end (previously
    * spec-only): the index is built WITHOUT the vec_id ∈ [300, 399]
    * block, which then arrives as a delta batch —
    * [[graft.operators.AnnIndex.appendDelta]] assigns it against the
    * committed FROZEN centroids (no re-fit — one assignment pass over
    * the delta only) and publishes a new version naming the old lists
    * plus the delta's. The probe unions fit + delta lists, and the
    * oracle replays exactly that: a fit chain on the reduced corpus,
    * one frozen-centroid assignment of the block, candidates from the
    * union. The 100 TB ingest shape: daily embedding batches extend a
    * trillion-row index at delta cost. */
  private val qSimIvfIncremental = Q(
    "q_sim_ivf_incremental",
    (s, dir) => {
      val idx = artifactDir(s, "ann", "q_sim_ivf_incremental")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(
        e.filter(!col("vec_id").between(300, 399)), "vec_id", "embedding",
        (SeedLo to SeedHi).toSeq, Rounds, Dim, idx)
      graft.operators.AnnIndex.appendDelta(
        e.filter(col("vec_id").between(300, 399)), "vec_id", "embedding", idx)
      graft.operators.AnnIndex.probe(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(ivfIncrementalOracle))

  /** GENERATION COMPACTION for the ANN index: after deltas accrete,
    * [[graft.operators.AnnIndex.compact]] rewrites the member-list
    * union as ONE generation carrying the fit's centroids forward
    * UNFITTED — cluster ids are already materialized on every list row,
    * so moving rows between files cannot change a probe result. Same
    * incremental oracle verbatim: build − block, delta the block,
    * compact, probe. AnnIndexSpec pins member collapse, frozen asOf
    * history, and the probe-plan shape on the compacted index. */
  private val qSimIvfCompacted = Q(
    "q_sim_ivf_compacted",
    (s, dir) => {
      val idx = artifactDir(s, "ann", "q_sim_ivf_compacted")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(
        e.filter(!col("vec_id").between(300, 399)), "vec_id", "embedding",
        (SeedLo to SeedHi).toSeq, Rounds, Dim, idx)
      graft.operators.AnnIndex.appendDelta(
        e.filter(col("vec_id").between(300, 399)), "vec_id", "embedding", idx)
      graft.operators.AnnIndex.compact(s, idx)
      graft.operators.AnnIndex.probe(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(ivfIncrementalOracle))

  /** PRODUCT QUANTIZATION with ADC scoring (FAISS IndexPQ, completing
    * the quantization family next to q_vector_quantize's scalar INT8):
    * the 64-dim space splits into M=4 16-dim subspaces, each with its
    * own K=8 codebook trained by the SAME exact-integer Lloyd chain as
    * q_cluster_kmeans (seeds = data rows, lowest-cid argmin ties), so a
    * vector compresses to 4 codes (3 bits each vs 64 floats — the
    * memory ratio that lets a 100 TB corpus's candidates live in RAM).
    * Query scoring is ASYMMETRIC DISTANCE COMPUTATION: per query ONE
    * 4×8 integer lookup table (exact squared-L2 of each query subvector
    * against each codeword — a literal-centroid projection over the
    * QUERY batch only), then every candidate's distance is 4 table
    * lookups + 3 adds, no float anywhere, ranked (distq, vec_id).
    * The oracle replays all four per-subspace training chains
    * (prefixed CTE chains), the corpus encoding, the lookup tables and
    * the ranking — bit-for-bit. Scale shape: encoding = 4 codegen'd
    * literal-centroid projections (narrow map); scoring = broadcast
    * 256-entry tables against the code table, shuffle only the final
    * per-query top-k window. Composes with the IVF list pruning of
    * q_sim_ivf_kmeans (probe lists first, ADC-score inside) — gated
    * here in its exhaustive IndexPQ form to keep the oracle 1:1.
    * Deployment shape is ADC-shortlist → exact rerank; AnnRecallSpec
    * MEASURES shortlist recall on this corpus: M=8/K=32 captures
    * 0.54/0.75/0.92 of the true top-3 at shortlist 10/25/50 (2.5% of
    * corpus), vs 0.25 for the gate's deliberately-small M=4/K=8 —
    * finer subspaces and richer codebooks both help, monotonically. */
  private val qSimPqAdc = Q(
    "q_sim_pq_adc",
    (s, dir) => {
      import s.implicits._
      val M = 4
      val SubDim = Dim / M
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val data = e.withColumn("qv", KMeansQuant.quantize(col("embedding")))
      // per-subspace codebooks: independent exact-int Lloyd fits on the
      // sliced coordinates, seeded from the same data rows, run
      // CONCURRENTLY (independent chains — wall ≈ one fit, not M)
      val subCents = KMeansQuant.fitSubspaces(
        s, data, "qv", (SeedLo to SeedHi), Rounds, M, SubDim)
      // encode: code_m = argmin codeword (lowest-cid ties) per subspace
      val coded = (0 until M).foldLeft(data) { (df, m) =>
        val dists = KMeansQuant.distArray(
          slice(col("qv"), m * SubDim + 1, SubDim), subCents(m))
        df.withColumn(s"code$m",
          array_position(dists, array_min(dists)) - 1L)
      }.select(col("vec_id") +: (0 until M).map(m => col(s"code$m")): _*)
      // ADC tables: per query, per subspace, the 8 exact distances
      val queries = data.filter(col("vec_id") < 8)
      val tabled = (0 until M).foldLeft(
          queries.select(col("vec_id").as("query_id"), col("qv"))) { (df, m) =>
        df.withColumn(s"qd$m", KMeansQuant.distArray(
          slice(col("qv"), m * SubDim + 1, SubDim), subCents(m)))
      }.select(col("query_id") +: (0 until M).map(m => col(s"qd$m")): _*)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("distq"), col("vec_id"))
      coded.join(broadcast(tabled), col("vec_id") =!= col("query_id"))
        .withColumn("distq", (0 until M).map(m =>
          element_at(col(s"qd$m"), (col(s"code$m") + 1L).cast("int")))
          .reduce(_ + _))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("vec_id"), col("distq"))
        .orderBy("query_id", "rk")
    },
    Some {
      val M = 4
      val SubDim = Dim / M
      val chains = (0 until M).map(m =>
        KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, SubDim,
          prefix = s"s$m", offset = m * SubDim)).mkString(",\n")
      val codesJoin = (1 until M)
        .map(m => s"JOIN s${m}a$Rounds a$m USING (vec_id)").mkString(" ")
      val codeCols = (0 until M)
        .map(m => s"a$m.cid AS code$m").mkString(", ")
      val qdCtes = (0 until M).map(m =>
        s"""qd$m AS (
           |  SELECT e.vec_id AS query_id, c.cid,
           |    ${KMeansQuant.l2qSql("e.qv", "c.cv", SubDim)} AS d
           |  FROM s${m}eq e CROSS JOIN s${m}c${Rounds - 1} c
           |  WHERE e.vec_id < 8)""".stripMargin).mkString(",\n")
      val qdJoins = (0 until M).map(m =>
        s"JOIN qd$m d$m ON d$m.query_id = q.query_id AND d$m.cid = x.code$m")
        .mkString("\n  ")
      val dSum = (0 until M).map(m => s"d$m.d").mkString(" + ")
      s"""WITH $chains,
         |codes AS (
         |  SELECT vec_id, $codeCols
         |  FROM s0a$Rounds a0 $codesJoin),
         |$qdCtes,
         |cand AS (
         |  SELECT q.query_id, x.vec_id, $dSum AS distq
         |  FROM codes x
         |  CROSS JOIN (SELECT vec_id AS query_id FROM embeddings
         |              WHERE vec_id < 8) q
         |  $qdJoins
         |  WHERE x.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, vec_id, distq,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY distq, vec_id) AS rk
         |  FROM cand)
         |SELECT query_id, rk, vec_id, distq FROM ranked
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
    })

  /** IVF-PQ — the composed FAISS production index (IndexIVFPQ shape):
    * the TRAINED spherical coarse quantizer prunes candidates to the
    * nprobe=2 nearest inverted lists (q_sim_ivf_kmeans's machinery),
    * and scoring INSIDE the probed lists is PQ asymmetric distance
    * (q_sim_pq_adc's machinery) — so per query the corpus cost is
    * (nprobe/K of the lists) × (M lookups + M−1 adds), never a float,
    * never a full scan, and the candidate payload is M codes instead
    * of the raw vector (the bandwidth ratio that makes a 100 TB
    * corpus's candidate stream shippable). One honest divergence from
    * FAISS: codes encode the RAW subvectors, not residuals against the
    * coarse centroid — residual encoding changes no plan shape, only
    * the codebook input, and is left out to keep the oracle chains
    * shared with the two parent gates. Ranking is (distq, vec_id);
    * the oracle composes both parents' CTE chains verbatim. */
  private val qSimIvfPq = Q(
    "q_sim_ivfpq",
    (s, dir) => {
      import s.implicits._
      val M = 4
      val SubDim = Dim / M
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      // coarse quantizer: the spherical fit (shared with q_sim_ivf_kmeans)
      val (assigned, coarse) = fitted(s, dir, normalized = true)
      val lists = assigned.select(col("vec_id"), col("qv"), col("cluster").as("cid"))
      // PQ codebooks on the RAW quantized coordinates (shared with
      // q_sim_pq_adc), the four independent fits run concurrently
      val data = e.withColumn("pqv", KMeansQuant.quantize(col("embedding")))
      val subCents = KMeansQuant.fitSubspaces(
        s, data, "pqv", (SeedLo to SeedHi), Rounds, M, SubDim)
      val coded = (0 until M).foldLeft(
          lists.join(data.select("vec_id", "pqv"), "vec_id")) { (df, m) =>
        val dists = KMeansQuant.distArray(
          slice(col("pqv"), m * SubDim + 1, SubDim), subCents(m))
        df.withColumn(s"code$m",
          array_position(dists, array_min(dists)) - 1L)
      }.select(col("vec_id") +: col("cid") +:
        (0 until M).map(m => col(s"code$m")): _*)
      // probes: nprobe=2 nearest lists by the coarse quantizer's metric
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("cdist"), col("cid"))
      val qbase = assigned.filter(col("vec_id") < 8)
        .join(data.select(col("vec_id"), col("pqv")), "vec_id")
      val probes0 = qbase
        .select(col("vec_id").as("query_id"), col("pqv"),
          posexplode(KMeansQuant.distArray(col("qv"), coarse)))
        .select(col("query_id"), col("pqv"),
          col("pos").cast("long").as("cid"), col("col").as("cdist"))
        .withColumn("crk", row_number().over(wProbe))
        .filter(col("crk") <= 2)
      // per-query ADC tables ride along with the probe rows
      val probes = (0 until M).foldLeft(probes0) { (df, m) =>
        df.withColumn(s"qd$m", KMeansQuant.distArray(
          slice(col("pqv"), m * SubDim + 1, SubDim), subCents(m)))
      }.select(col("query_id") +: col("cid") +:
        (0 until M).map(m => col(s"qd$m")): _*)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("distq"), col("vec_id"))
      coded.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("distq", (0 until M).map(m =>
          element_at(col(s"qd$m"), (col(s"code$m") + 1L).cast("int")))
          .reduce(_ + _))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("vec_id"),
          col("cid").as("list_id"), col("distq"))
        .orderBy("query_id", "rk")
    },
    Some(ivfPqOracleSql))

  /** Shared by q_sim_ivfpq and its persisted twin — the composed
    * coarse+PQ CTE chains replayed bit-for-bit in DuckDB. */
  private lazy val ivfPqOracleSql: String = {
      val M = 4
      val SubDim = Dim / M
      val coarseChain = KMeansQuant.oracleCtesSql(
        SeedLo, SeedHi, Rounds, Dim, normalized = true)
      val pqChains = (0 until M).map(m =>
        KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, SubDim,
          prefix = s"s$m", offset = m * SubDim)).mkString(",\n")
      val codesJoin = (1 until M)
        .map(m => s"JOIN s${m}a$Rounds a$m USING (vec_id)").mkString(" ")
      val codeCols = (0 until M)
        .map(m => s"a$m.cid AS code$m").mkString(", ")
      val qdCtes = (0 until M).map(m =>
        s"""qd$m AS (
           |  SELECT e.vec_id AS query_id, c.cid,
           |    ${KMeansQuant.l2qSql("e.qv", "c.cv", SubDim)} AS d
           |  FROM s${m}eq e CROSS JOIN s${m}c${Rounds - 1} c
           |  WHERE e.vec_id < 8)""".stripMargin).mkString(",\n")
      val qdJoins = (0 until M).map(m =>
        s"JOIN qd$m d$m ON d$m.query_id = p.query_id AND d$m.cid = x.code$m")
        .mkString("\n  ")
      val dSum = (0 until M).map(m => s"d$m.d").mkString(" + ")
      s"""WITH $coarseChain,
         |$pqChains,
         |codes AS (
         |  SELECT vec_id, $codeCols
         |  FROM s0a$Rounds a0 $codesJoin),
         |$qdCtes,
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT e.vec_id AS query_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
         |    FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id < 8) t
         |  WHERE crk <= 2),
         |cand AS (
         |  SELECT p.query_id, x.vec_id, lx.cid AS list_id, $dSum AS distq
         |  FROM a$Rounds lx
         |  JOIN probes p ON lx.cid = p.cid AND lx.vec_id <> p.query_id
         |  JOIN codes x ON x.vec_id = lx.vec_id
         |  $qdJoins),
         |ranked AS (
         |  SELECT query_id, vec_id, list_id, distq,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY distq, vec_id) AS rk
         |  FROM cand)
         |SELECT query_id, rk, vec_id, list_id, distq FROM ranked
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
  }

  /** Persisted-index twin of q_sim_ivfpq — the full on-disk FAISS
    * IndexIVFPQ lifecycle: [[graft.operators.AnnIndex.buildPq]] trains
    * the spherical coarse quantizer AND the M per-subspace codebooks,
    * commits centroids + codebooks + cid-partitioned lists (each row
    * carrying its M codes) through the Store's commit log; the probe
    * then ranks lists off the committed centroid table and ADC-scores
    * candidates from their STORED codes — the raw vectors are never
    * read back, the candidate payload is M small ints per row. Training
    * and scoring math are byte-identical to the inline query, so this
    * SHARES its oracle: persistence must not change a single retrieval
    * result. AnnIndexSpec covers the lifecycle pieces the gate can't
    * see (no-aggregate probe plan, code-carrying delta appends). */
  private val qSimIvfPqPersisted = Q(
    "q_sim_ivfpq_persisted",
    (s, dir) => {
      val idx = artifactDir(s, "ann", "q_sim_ivfpq_persisted")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.buildPq(e, "vec_id", "embedding",
        (SeedLo until SeedLo + K).toSeq, Rounds, Dim, idx, m = 4)
      graft.operators.AnnIndex.probePq(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(ivfPqOracleSql))

  /** RESIDUAL-encoded IVF-PQ — closing the one documented divergence
    * from FAISS IndexIVFPQ: the PQ codebooks train on (and the codes
    * encode) the COARSE RESIDUAL r = qv − assigned-centroid, not the
    * raw vector. Residuals concentrate near the origin (the coarse fit
    * has already explained the between-list variance), so the same
    * codebook budget quantizes finer — the reason FAISS defaults to
    * residual encoding. MEASURED in AnnRecallSpec: residual codes cut
    * mean reconstruction distortion vs direct same-space codebooks at
    * equal (M, K) — that is the robust statistical win; per-instance
    * shortlist recall on the 8-query gate corpus is parity-within-noise
    * (a reseeded codebook flips 1-2 of 24 truth pairs either way).
    * Consequences faithfully modeled: the query's
    * ADC tables become per-(query, probed-list) — the query residual
    * depends on which centroid's list is being probed (nprobe × M × K
    * table entries per query instead of M × K, still
    * metadata-sized and riding the broadcast probe rows) — and every
    * candidate's stored codes are vs its OWN list's centroid, which is
    * exactly the probed one, so the table join keys on
    * (query, list, code). The residual is a codegen'd graft_vecsub of
    * two integer vectors (exact, no float); the oracle replays coarse
    * chain → residual CTE → four residual training chains → per-list
    * tables → ranking, bit-for-bit. */
  private val qSimIvfPqResidual = Q(
    "q_sim_ivfpq_residual",
    (s, dir) => {
      import s.implicits._
      val M = 4
      val SubDim = Dim / M
      // coarse: the trained spherical quantizer (shared with q_sim_ivfpq)
      val (assigned, coarse) = fitted(s, dir, normalized = true)
      val centsLit = typedlit(coarse)
      // residual vs the row's ASSIGNED centroid — the codebook input
      val resid = assigned.withColumn("rv",
        graft.functions.GraftFunctions.vecSubNative(col("qv"),
          element_at(centsLit, (col("cluster") + 1L).cast("int"))))
      val subCents = KMeansQuant.fitSubspaces(
        s, resid, "rv", (SeedLo to SeedHi), Rounds, M, SubDim)
      val coded = (0 until M).foldLeft(resid) { (df, m) =>
        val dists = KMeansQuant.distArray(
          slice(col("rv"), m * SubDim + 1, SubDim), subCents(m))
        df.withColumn(s"code$m",
          array_position(dists, array_min(dists)) - 1L)
      }.select(col("vec_id") +: col("cluster").as("cid") +:
        (0 until M).map(m => col(s"code$m")): _*)
      // probes, then PER-PROBED-LIST query residuals and ADC tables
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("cdist"), col("cid"))
      val probes0 = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("qv"),
          posexplode(KMeansQuant.distArray(col("qv"), coarse)))
        .select(col("query_id"), col("qv"),
          col("pos").cast("long").as("cid"), col("col").as("cdist"))
        .withColumn("crk", row_number().over(wProbe))
        .filter(col("crk") <= 2)
        .withColumn("rqv",
          graft.functions.GraftFunctions.vecSubNative(col("qv"),
            element_at(centsLit, (col("cid") + 1L).cast("int"))))
      val probes = (0 until M).foldLeft(probes0) { (df, m) =>
        df.withColumn(s"qd$m", KMeansQuant.distArray(
          slice(col("rqv"), m * SubDim + 1, SubDim), subCents(m)))
      }.select(col("query_id") +: col("cid") +:
        (0 until M).map(m => col(s"qd$m")): _*)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("distq"), col("vec_id"))
      coded.join(broadcast(probes), "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("distq", (0 until M).map(m =>
          element_at(col(s"qd$m"), (col(s"code$m") + 1L).cast("int")))
          .reduce(_ + _))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("vec_id"),
          col("cid").as("list_id"), col("distq"))
        .orderBy("query_id", "rk")
    },
    Some(ivfPqResidualOracleSql))

  /** Shared by q_sim_ivfpq_residual and its persisted twin. */
  private lazy val ivfPqResidualOracleSql: String = {
      val M = 4
      val SubDim = Dim / M
      val coarseChain = KMeansQuant.oracleCtesSql(
        SeedLo, SeedHi, Rounds, Dim, normalized = true)
      val resChains = (0 until M).map(m =>
        KMeansQuant.oracleCtesFromIntSql("res", "rv", SeedLo, SeedHi,
          Rounds, SubDim, prefix = s"r$m", offset = m * SubDim)).mkString(",\n")
      val codesJoin = (1 until M)
        .map(m => s"JOIN r${m}a$Rounds a$m USING (vec_id)").mkString(" ")
      val codeCols = (0 until M)
        .map(m => s"a$m.cid AS code$m").mkString(", ")
      val qdCtes = (0 until M).map { m =>
        val off = m * SubDim
        s"""qd$m AS (
           |  SELECT s.query_id, s.pcid, c.cid,
           |    CAST(list_sum(list_transform(generate_series(1, $SubDim),
           |      i -> (s.rqv[i + $off] - c.cv[i]) * (s.rqv[i + $off] - c.cv[i])))
           |      AS BIGINT) AS d
           |  FROM pres s CROSS JOIN r${m}c${Rounds - 1} c)""".stripMargin
      }.mkString(",\n")
      val qdJoins = (0 until M).map(m =>
        s"JOIN qd$m d$m ON d$m.query_id = p.query_id AND d$m.pcid = lx.cid " +
          s"AND d$m.cid = x.code$m").mkString("\n  ")
      val dSum = (0 until M).map(m => s"d$m.d").mkString(" + ")
      s"""WITH $coarseChain,
         |res AS (
         |  SELECT a.vec_id,
         |    list_transform(generate_series(1, $Dim), i -> a.qv[i] - c.cv[i]) AS rv
         |  FROM a$Rounds a JOIN c${Rounds - 1} c ON c.cid = a.cid),
         |$resChains,
         |codes AS (
         |  SELECT vec_id, $codeCols
         |  FROM r0a$Rounds a0 $codesJoin),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT e.vec_id AS query_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
         |    FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id < 8) t
         |  WHERE crk <= 2),
         |pres AS (
         |  SELECT p.query_id, p.cid AS pcid,
         |    list_transform(generate_series(1, $Dim), i -> e.qv[i] - c.cv[i]) AS rqv
         |  FROM probes p JOIN eq e ON e.vec_id = p.query_id
         |  JOIN c${Rounds - 1} c ON c.cid = p.cid),
         |$qdCtes,
         |cand AS (
         |  SELECT p.query_id, lx.vec_id, lx.cid AS list_id, $dSum AS distq
         |  FROM a$Rounds lx
         |  JOIN probes p ON lx.cid = p.cid AND lx.vec_id <> p.query_id
         |  JOIN codes x ON x.vec_id = lx.vec_id
         |  $qdJoins),
         |ranked AS (
         |  SELECT query_id, vec_id, list_id, distq,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY distq, vec_id) AS rk
         |  FROM cand)
         |SELECT query_id, rk, vec_id, list_id, distq FROM ranked
         |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin
  }

  /** Persisted twin of q_sim_ivfpq_residual — the COMPLETE on-disk
    * FAISS IndexIVFPQ in its default (residual) configuration:
    * [[graft.operators.AnnIndex.buildPq]] with `residual = true`
    * commits centroids + residual-trained codebooks + code-carrying
    * lists, the meta carries the residual flag, and
    * [[graft.operators.AnnIndex.probePq]] reads it to build its ADC
    * tables per probed list (the probes frame already carries cid, so
    * the per-(query, list) tables are structurally free on the
    * broadcast). Same math as the inline query ⇒ SHARES its oracle. */
  private val qSimIvfPqResidualPersisted = Q(
    "q_sim_ivfpq_residual_persisted",
    (s, dir) => {
      val idx = artifactDir(s, "ann", "q_sim_ivfpq_residual_persisted")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.buildPq(e, "vec_id", "embedding",
        (SeedLo until SeedLo + K).toSeq, Rounds, Dim, idx, m = 4,
        residual = true)
      graft.operators.AnnIndex.probePq(
        e.filter(col("vec_id") < 8), idx, "vec_id", "embedding",
        nprobe = 2, topK = 3, excludeSelf = true)
    },
    Some(ivfPqResidualOracleSql))

  /** HYBRID RETRIEVAL OVER COMMITTED ARTIFACTS — the production twin of
    * q_search_hybrid_rrf: both arms are served from persisted indexes
    * instead of inline scans. The lexical top-20 comes from
    * [[graft.operators.TextIndex.search]] (bucket-pruned postings scan,
    * no re-tokenization), the dense top-20 from
    * [[graft.operators.AnnIndex.probe]] (partition-pruned inverted
    * lists, no re-fit), and fusion is the same exact-integer RRF
    * (k = 60, ranks only cross the boundary). This is the claim the
    * inline query's Scaladoc makes ("either arm swaps to its persisted
    * twin unchanged") made checkable: the fused ranking gates against
    * an oracle that replays BOTH stores' math — the BM25 integer
    * formula and the full spherical-Lloyd probe chain — end to end.
    * Ranks differ from the inline query only where the dense arm's
    * IVF approximation differs from brute force, exactly as deployed.
    *
    * Scale: search reads the query terms' tb buckets; probe reads
    * nprobe/K of the lists; fusion is a 40-row full-outer join —
    * constant whatever the corpus. Build cost is paid inside the gate
    * for hermeticity (same stance as every persisted-artifact gate);
    * AnnIndexSpec/TextIndexSpec pin the no-refit probe-from-fresh-
    * session lifecycle. */
  private val qSearchHybridPersisted = Q(
    "q_search_hybrid_persisted",
    (s, dir) => {
      val base = artifactDir(s, "hybrid", "q_search_hybrid_persisted")
      graft.operators.TextIndex.build(
        table(s, dir, "documents"), "doc_id", "text", s"$base/text")
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      graft.operators.AnnIndex.build(e, "vec_id", "embedding",
        (SeedLo until SeedLo + K).toSeq, Rounds, Dim, s"$base/ann")
      val lex = graft.operators.TextIndex.search(s, s"$base/text",
          Seq("hash", "join", "vector"), topK = 20)
        .withColumn("rank_lex", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "rank_lex")
      val dense = graft.operators.AnnIndex.probe(
          e.filter(col("vec_id") === 0), s"$base/ann", "vec_id", "embedding",
          nprobe = 2, topK = 20, excludeSelf = true)
        .select(col("vec_id").as("doc_id"), col("rk").cast("long").as("rank_dense"))
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
    Some(s"""WITH ${KMeansQuant.oracleCtesSql(SeedLo, SeedHi, Rounds, Dim,
               normalized = true)},
             probes AS (
               SELECT query_id, cid FROM (
                 SELECT e.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${KMeansQuant.l2qSql("e.qv", "c.cv", Dim)}, c.cid) AS crk
                 FROM eq e CROSS JOIN c${Rounds - 1} c WHERE e.vec_id = 0) t
               WHERE crk <= 2),
             densescored AS (
               SELECT p.query_id, x.vec_id,
                 ${graft.operators.PortableHash.cosineSql(
                   "qe.embedding", "ce.embedding", Dim)} AS cosine
               FROM a$Rounds x JOIN probes p
                 ON x.cid = p.cid AND x.vec_id <> p.query_id
               JOIN embeddings qe ON qe.vec_id = p.query_id
               JOIN embeddings ce ON ce.vec_id = x.vec_id),
             dense AS (
               SELECT vec_id AS doc_id, rank_dense FROM (
                 SELECT vec_id, row_number() OVER (
                   ORDER BY cosine DESC, vec_id) AS rank_dense
                 FROM densescored) t WHERE rank_dense <= 20),
             rawl AS (
               SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
               FROM documents),
             tokl AS (SELECT doc_id, term FROM rawl WHERE term <> ''),
             dll AS (SELECT doc_id, count(*) AS dl FROM tokl GROUP BY 1),
             constsl AS (
               SELECT (SELECT count(*) FROM documents) AS n_docs,
                      (SELECT sum(dl) FROM dll) AS t_tokens),
             tfl AS (SELECT doc_id, term, count(*) AS tf FROM tokl
                     WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2),
             dfl AS (SELECT term, count(*) AS df FROM tfl GROUP BY 1),
             scoredlex AS (
               SELECT tfl.doc_id,
                 (((n_docs - dfl.df + 1) * 100000) // (dfl.df + 1)) *
                 ((tfl.tf * 22 * t_tokens * 10000) //
                  (10 * t_tokens * tfl.tf + 3 * t_tokens +
                   9 * dll.dl * n_docs)) AS s
               FROM tfl JOIN dfl USING (term)
                 JOIN dll ON tfl.doc_id = dll.doc_id, constsl),
             lex AS (
               SELECT doc_id, rank_lex FROM (
                 SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_lex
                 FROM (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score
                       FROM scoredlex GROUP BY 1) t0) t1
               WHERE rank_lex <= 20),
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

  override val queries: Seq[Q] = Seq(qClusterKmeans, qClusterKmeansDurable,
    qDedupSemantic, qSimIvfKmeans, qSimIvfPersisted, qSimIvfIncremental,
    qSimIvfCompacted, qSimPqAdc, qSimIvfPq,
    qSimIvfPqPersisted, qSimIvfPqResidual, qSimIvfPqResidualPersisted,
    qSearchHybridPersisted)
}
