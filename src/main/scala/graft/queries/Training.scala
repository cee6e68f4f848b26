package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Graft._
import graft.operators.PortableHash.{charHashSql, P}

/** Training-data corpus operations beyond dedup/similarity (SURVEY §2.3
  * extension set): repetition-based quality rules, deterministic
  * train/val/test splitting, weighted per-source mixture sampling,
  * per-group uniform sampling, token-budget sequence packing, and
  * corpus-level line dedup.
  *
  * Determinism discipline: every "random" choice (split assignment,
  * sampling, mixture rates) is explicit integer hash arithmetic from
  * operators/PortableHash — reproducible run-to-run, partition-count
  * independent, and recomputable bit-identically by the DuckDB oracle.
  * A corpus re-run assigns every document to the same split/sample, which
  * is exactly the property a training pipeline needs (no state to carry
  * between runs, membership is a pure function of the data).
  *
  * Scale notes are per-query; the common shape is per-row projections +
  * one hash aggregation, never an all-pairs or driver-side step.
  */
object Training extends QueryGroup {

  /** Deterministic per-document hash on the id: ((id % P)·K + C) % P with
    * a Knuth multiplier — uniform enough for rate-based selection, exact
    * int64 arithmetic in both engines (id % P < 1e9, ·2654435761 < 2^62). */
  private def docHash(c: org.apache.spark.sql.Column) =
    ((c % lit(P)) * lit(2654435761L) + lit(40503L)) % lit(P)
  private def docHashSql(e: String): String =
    s"(($e % $P) * 2654435761 + 40503) % $P"

  // -- repetition quality rules (Gopher/C4 family) -----------------------

  /** Repetition-based quality scoring: duplicate-token fraction,
    * adjacent-repeat fraction, and top-bigram fraction (the Gopher
    * "fraction of characters in most common n-gram" rule, adapted to the
    * token-stream corpus).
    *
    * Scale shape: dup/adjacent ratios are O(len) per-row array ops; the
    * top-bigram count deliberately does NOT use the per-row O(len·distinct)
    * nested-lambda formulation — bigrams are exploded and counted through
    * a codegen'd hash aggregation (two shuffles on (doc_id, gram) /
    * (doc_id), both embarrassingly parallel, no skew: keys are per-doc). */
  private val qTextRepetition = Q(
    "q_text_repetition",
    (s, dir) => {
      val toks = split(lower(col("text")), " ")
      val base = table(s, dir, "documents")
        .withColumn("tl", toks)
        .withColumn("n_tokens", size(col("tl")).cast("long"))
        .filter(col("n_tokens") >= 2)
        .withColumn("th", transform(col("tl"),
          t => graft.functions.GraftFunctions.charHashNative(t)))
      // non-distinct bigram hashes, exploded and hash-agg counted
      val bg = base.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("th")) - 1),
            i => (element_at(col("th"), i) * lit(131L) +
                  element_at(col("th"), i + 1)) % lit(P))).as("bgh"))
        .groupBy("doc_id", "bgh").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_bg"))
      base
        .join(bg, "doc_id")
        .withColumn("dup_token_ratio",
          (col("n_tokens") - size(array_distinct(col("tl"))).cast("long"))
            .cast("double") / col("n_tokens"))
        .withColumn("adj_repeat_ratio",
          size(filter(sequence(lit(1), size(col("tl")) - 1),
            i => element_at(col("tl"), i) === element_at(col("tl"), i + 1)))
            .cast("double") / (col("n_tokens") - 1))
        .withColumn("top_bigram_ratio",
          col("top_bg").cast("double") / (col("n_tokens") - 1))
        .withColumn("repetition_ok",
          col("adj_repeat_ratio") <= 0.125 && col("top_bigram_ratio") <= 0.125)
        .select("doc_id", "n_tokens", "dup_token_ratio", "adj_repeat_ratio",
          "top_bigram_ratio", "repetition_ok")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
               FROM documents
               WHERE len(string_split(lower(text), ' ')) >= 2),
             th AS (
               SELECT doc_id, tl, n_tokens,
                 list_transform(tl, x -> ${charHashSql("x")}) AS th
               FROM t),
             bg AS (
               SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(th) - 1),
                   i -> (th[i] * 131 + th[i+1]) % $P)) AS bgh
               FROM th),
             top AS (
               SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg FROM (
                 SELECT doc_id, bgh, count(*) AS c FROM bg GROUP BY 1, 2)
               GROUP BY doc_id)
             SELECT t.doc_id, n_tokens,
               CAST(n_tokens - len(list_distinct(tl)) AS DOUBLE) / n_tokens
                 AS dup_token_ratio,
               CAST(len(list_filter(generate_series(1, len(tl) - 1),
                 i -> tl[i] = tl[i+1])) AS DOUBLE) / (n_tokens - 1)
                 AS adj_repeat_ratio,
               CAST(top_bg AS DOUBLE) / (n_tokens - 1) AS top_bigram_ratio,
               (CAST(len(list_filter(generate_series(1, len(tl) - 1),
                  i -> tl[i] = tl[i+1])) AS DOUBLE) / (n_tokens - 1)) <= 0.125
                 AND (CAST(top_bg AS DOUBLE) / (n_tokens - 1)) <= 0.125
                 AS repetition_ok
             FROM t JOIN top ON t.doc_id = top.doc_id
             ORDER BY t.doc_id"""))

  // -- deterministic splits / sampling / mixing --------------------------

  /** Hash-based train/val/test assignment (80/10/10): the split of a
    * document is a pure function of its id, so any re-run — or any other
    * pipeline holding the same corpus — computes the same membership with
    * zero coordination state. Per-row projection + one aggregation. */
  private val qSplitAssign = Q(
    "q_split_assign",
    (s, dir) => {
      val bucket = docHash(col("doc_id")) % 100
      table(s, dir, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(ceil(col("n_chars") / 4.0).cast("long")).as("token_budget"))
        .orderBy("split", "lang")
    },
    Some(s"""SELECT CASE WHEN ${docHashSql("doc_id")} % 100 < 80 THEN 'train'
                         WHEN ${docHashSql("doc_id")} % 100 < 90 THEN 'val'
                         ELSE 'test' END AS split,
                    lang, count(*) AS n_docs,
                    CAST(sum(ceil(n_chars / 4.0)) AS BIGINT) AS token_budget
             FROM documents GROUP BY 1, 2 ORDER BY split, lang"""))

  /** Weighted mixture sampling: each source gets a deterministic
    * per-mille rate (derived here from the source name's hash; in a real
    * pipeline, a supplied weights table) and documents are kept when
    * their id-hash falls under it — Bernoulli sampling that is exactly
    * reproducible and composable across sources. Per-row projection +
    * one aggregation; the rate lookup is a pure column expression (a
    * joined weights table would broadcast). */
  private val qMixWeighted = Q(
    "q_mix_weighted",
    (s, dir) => {
      val rate = graft.functions.GraftFunctions.charHashNative(col("source")) % 500 + 250
      table(s, dir, "documents")
        .withColumn("rate_pm", rate)
        .withColumn("keep", docHash(col("doc_id")) % 1000 < col("rate_pm"))
        .groupBy("source")
        .agg(max(col("rate_pm")).as("rate_pm"),
          count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_ratio",
          col("n_kept").cast("double") / col("n_total"))
        .orderBy("source")
    },
    Some(s"""WITH k AS (
               SELECT source,
                 ${charHashSql("source")} % 500 + 250 AS rate_pm,
                 CASE WHEN ${docHashSql("doc_id")} % 1000 <
                   ${charHashSql("source")} % 500 + 250 THEN 1 ELSE 0 END AS keep
               FROM documents)
             SELECT source, CAST(max(rate_pm) AS BIGINT) AS rate_pm,
               count(*) AS n_total, CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(sum(keep) AS DOUBLE) / count(*) AS kept_ratio
             FROM k GROUP BY source ORDER BY source"""))

  /** Per-group uniform sample: the k documents with the smallest id-hash
    * per language — deterministic reservoir sampling (membership is a
    * pure function of the corpus, stable under growth except for genuine
    * displacements).
    *
    * Scale shape: a bounded-heap Aggregator (O(k) state, map-side
    * combining), NOT a per-group window — `lang` has 5 values, so a
    * `row_number() OVER (PARTITION BY lang ...)` would scan each
    * language's whole corpus in one task; the aggregator's partial
    * buffers keep parallelism at the input partition count. */
  private val qSamplePerGroup = Q(
    "q_sample_pergroup",
    (s, dir) => {
      val topk = udaf(
        graft.operators.TypedAggregates.TopKPairsByValueAsc(20),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      table(s, dir, "documents")
        .withColumn("h", docHash(col("doc_id")))
        .groupBy(col("lang"))
        .agg(topk(col("doc_id"), col("h")).as("sample"))
        .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "kv")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
          col("kv._1").as("doc_id"), col("kv._2").as("h"))
        .orderBy("lang", "rk")
    },
    Some(s"""SELECT lang, rk, doc_id, h FROM (
               SELECT lang, doc_id, ${docHashSql("doc_id")} AS h,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ${docHashSql("doc_id")}, doc_id) AS rk
               FROM documents) t
             WHERE rk <= 20 ORDER BY lang, rk"""))

  // -- sequence packing --------------------------------------------------

  /** Token-budget sequence packing (concat-and-chunk): per source,
    * documents are laid out in id order into a contiguous token stream
    * and chunked into 2048-token packs; a document belongs to the pack
    * its first token lands in. This is the standard LM pretraining
    * packing layout, as pure column arithmetic.
    *
    * Scale shape: the running sum is NOT one window per source (a
    * 20-source corpus would put each source's whole stream in one task) —
    * it is the deterministic range-salt stitching of
    * [[graft.operators.SaltedPrefix]], shared with q_window_rownum_salted:
    * per-(source, bucket) sums in parallel, lifted by broadcast bucket
    * totals — two passes, no single-task scan, no sampling. */
  private val qPackSequences = Q(
    "q_pack_sequences",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("tok", ceil(col("n_chars") / 4.0).cast("long"))
      graft.operators.SaltedPrefix
        .exclusivePrefixSum(d, "source", "doc_id", col("tok"))
        .withColumn("pack_id", floor(col("start_off") / 2048).cast("long"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("source", "pack_id")
    },
    Some("""WITH t AS (
              SELECT source, doc_id,
                CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok
              FROM documents),
            o AS (
              SELECT source, doc_id, tok,
                COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS start_off
              FROM t)
            SELECT source, CAST(floor(start_off / 2048) AS BIGINT) AS pack_id,
              count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens,
              min(doc_id) AS first_doc
            FROM o GROUP BY 1, 2 ORDER BY source, pack_id"""))

  // -- corpus line dedup -------------------------------------------------

  /** Corpus-level line dedup (the C4 "discard duplicated spans" rule):
    * documents are segmented into fixed 10-token lines, every line is
    * hashed, and only the first occurrence (min doc_id, then position)
    * of each line hash in the corpus survives. The corpus has no natural
    * dups, so the first 50 docs are re-injected under offset ids — the
    * injected copies must lose ALL their lines to the originals.
    *
    * Scale shape: explode is linear in corpus tokens; the keeper choice
    * is one window (or min-aggregation + join) keyed on the line hash —
    * a uniform key, so the shuffle has no hot partitions. */
  private val qLinesDedup = Q(
    "q_lines_dedup",
    (s, dir) => {
      val base = table(s, dir, "documents").select("doc_id", "text")
      val dup = base.orderBy("doc_id").limit(50)
        .withColumn("doc_id", col("doc_id") + 100000)
      val corpus = base.unionByName(dup)
        .withColumn("tl", split(lower(col("text")), " "))
        .withColumn("nl", floor(size(col("tl")) / 10).cast("int"))
        .filter(col("nl") > 0)
      val lines = corpus
        .select(col("doc_id"), col("tl"),
          explode(sequence(lit(0), col("nl") - 1)).as("j"))
        .withColumn("line", concat_ws(" ", slice(col("tl"), col("j") * 10 + 1, lit(10))))
        .withColumn("lh", graft.functions.GraftFunctions.charHashNative(col("line")))
      val wFirst = Window.partitionBy(col("lh")).orderBy(col("doc_id"), col("j"))
      lines
        .withColumn("rn", row_number().over(wFirst))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH corpus AS (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 100000 AS doc_id, text FROM (
                 SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50)),
             t AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl
               FROM corpus WHERE len(string_split(lower(text), ' ')) >= 10),
             l AS (
               SELECT doc_id, j,
                 list_aggregate(tl[j*10+1 : j*10+10], 'string_agg', ' ') AS line
               FROM t CROSS JOIN LATERAL (
                 SELECT unnest(generate_series(0,
                   CAST(floor(len(tl) / 10) AS INT) - 1)) AS j) js),
             h AS (
               SELECT doc_id, j, ${charHashSql("line")} AS lh,
                 row_number() OVER (PARTITION BY ${charHashSql("line")}
                   ORDER BY doc_id, j) AS rn
               FROM l)
             SELECT doc_id, count(*) AS n_lines,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             FROM h GROUP BY doc_id ORDER BY doc_id"""))

  /** Overlapping document chunking (the embedding-prep step: fixed
    * 64-token windows at stride 48, so consecutive chunks share 16
    * tokens of context). Chunk boundaries and ids are pure arithmetic on
    * token positions; each chunk carries its token count and content
    * hash. Explode is linear in corpus tokens — per-row fan-out is
    * ceil(len/stride), no shuffle until the output sort. */
  private val qChunkDocs = Q(
    "q_chunk_docs",
    (s, dir) => {
      table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .withColumn("n", size(col("tl")))
        .select(col("doc_id"), col("tl"),
          explode(sequence(lit(0), floor((col("n") - 1) / 48).cast("int")))
            .as("chunk_id"))
        .withColumn("chunk", slice(col("tl"), col("chunk_id") * 48 + 1, lit(64)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          graft.functions.GraftFunctions.charHashNative(
            concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl,
                 len(string_split(lower(text), ' ')) AS n
               FROM documents),
             c AS (
               SELECT doc_id, tl,
                 unnest(generate_series(0,
                   CAST(floor((n - 1) / 48) AS INT))) AS chunk_id
               FROM t)
             SELECT doc_id, chunk_id,
               CAST(len(tl[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT)
                 AS n_chunk_tokens,
               ${charHashSql(
                 "list_aggregate(tl[chunk_id*48+1 : chunk_id*48+64], 'string_agg', ' ')")}
                 AS chunk_hash
             FROM c ORDER BY doc_id, chunk_id"""))

  /** Chunking ROUND-TRIP — the invertibility proof for q_chunk_docs'
    * overlapped 64/48 windows: reassembling first-48-of-each-chunk plus
    * the whole last chunk must reproduce the original token stream
    * exactly. BOTH engines independently chunk, reassemble, and compare
    * (the `ok` column is computed, not a constant), so an off-by-one in
    * stride, window, last-chunk handling, or ordering on EITHER side
    * breaks the gate. The property this pins is what makes the chunked
    * representation safe as the system of record for training windows —
    * the original doc is recoverable, so chunking loses nothing.
    *
    * Scale shape: chunks reassemble with one doc_id hash aggregation
    * (ordered collect of (chunk_id, contribution) structs — per-doc
    * state bounded by doc token count); the comparison joins back to the
    * token stream on doc_id. Hashes, not texts, are compared. */
  private val qChunkRoundtrip = Q(
    "q_chunk_roundtrip",
    (s, dir) => {
      import graft.functions.GraftFunctions.charHashNative
      val t = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .withColumn("n", size(col("tl")))
      val chunks = t
        .select(col("doc_id"), col("tl"),
          floor((col("n") - 1) / 48).cast("int").as("max_id"),
          explode(sequence(lit(0), floor((col("n") - 1) / 48).cast("int")))
            .as("chunk_id"))
        .withColumn("chunk", slice(col("tl"), col("chunk_id") * 48 + 1, lit(64)))
        .select(col("doc_id"), col("chunk_id"),
          when(col("chunk_id") < col("max_id"), slice(col("chunk"), 1, 48))
            .otherwise(col("chunk")).as("contrib"))
      val re = chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          flatten(transform(
            array_sort(collect_list(struct(col("chunk_id"), col("contrib")))),
            x => x.getField("contrib"))).as("toks"))
      re.join(t.select(col("doc_id"), col("tl")), "doc_id")
        .select(col("doc_id"), col("n_chunks"),
          (charHashNative(concat_ws(" ", col("toks"))) ===
            charHashNative(concat_ws(" ", col("tl")))).as("ok"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl,
                 len(string_split(lower(text), ' ')) AS n
               FROM documents),
             c AS (
               SELECT doc_id, tl, n,
                 unnest(generate_series(0,
                   CAST(floor((n - 1) / 48) AS INT))) AS chunk_id
               FROM t),
             chunks AS (
               SELECT doc_id, chunk_id,
                 tl[chunk_id*48+1 : chunk_id*48+64] AS chunk,
                 CAST(floor((n - 1) / 48) AS INT) AS max_id
               FROM c),
             re AS (
               SELECT doc_id, count(*) AS n_chunks,
                 flatten(list(
                   CASE WHEN chunk_id < max_id THEN chunk[1:48] ELSE chunk END
                   ORDER BY chunk_id)) AS toks
               FROM chunks GROUP BY doc_id)
             SELECT re.doc_id, n_chunks,
               (${charHashSql("list_aggregate(re.toks, 'string_agg', ' ')")} =
                ${charHashSql("list_aggregate(t.tl, 'string_agg', ' ')")}) AS ok
             FROM re JOIN t ON t.doc_id = re.doc_id
             ORDER BY re.doc_id"""))

  /** Column DIVERSITY profiling via exact Gini impurity — the
    * categorical-balance metric for a training mix (is one lang/source
    * about to dominate?). Gini = 1 − Σp², which unlike entropy needs no
    * logarithm: on counts it is the exact rational (n² − Σc²)/n²,
    * emitted in integer micros with decimal(38,0) squares (n² passes
    * long range at ~3×10⁹ rows — the zscore/chi2 wide-integer
    * discipline) and remainder-subtracted floor division.
    *
    * Scale shape: one stacked pass — the profiled columns unpivot into
    * (column, value) rows in a single projection, ONE hash aggregation
    * counts them, a label-cardinality-sized re-aggregation forms the
    * sums. Adding a column widens the stack expression, not the plan. */
  private val qProfileGini = Q(
    "q_profile_gini",
    (s, dir) => {
      val dec = "decimal(38,0)"
      val stacked = table(s, dir, "documents")
        .select(explode(map(
          lit("lang"), col("lang"),
          lit("source"), col("source"))).as(Seq("col_name", "val")))
      val counts = stacked.groupBy(col("col_name"), col("val"))
        .agg(count(lit(1)).as("c"))
      counts.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("c")).as("n"),
          sum(col("c").cast(dec) * col("c").cast(dec)).as("sq"))
        .select(col("col_name"), col("n_distinct"), {
          val n2 = col("n").cast(dec) * col("n").cast(dec)
          val num = (n2 - col("sq")) * lit(1000000L).cast(dec)
          ((num - num % n2) / n2).cast("long").as("gini_micro")
        })
        .orderBy("col_name")
    },
    Some("""WITH stacked AS (
              SELECT 'lang' AS col_name, lang AS val FROM documents
              UNION ALL
              SELECT 'source', source FROM documents),
            counts AS (
              SELECT col_name, val, count(*) AS c
              FROM stacked GROUP BY 1, 2),
            sums AS (
              SELECT col_name, count(*) AS n_distinct,
                sum(c) AS n, sum(CAST(c AS HUGEINT) * c) AS sq
              FROM counts GROUP BY 1)
            SELECT col_name, CAST(n_distinct AS BIGINT) AS n_distinct,
              CAST(((CAST(n AS HUGEINT) * n - sq) * 1000000)
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_micro
            FROM sums ORDER BY col_name"""))

  /** TRAINING-MIX DEVIATION from a target — the mixture-monitoring
    * gauge: per-language share deviation from the uniform target in
    * integer micros, |c_l·L − N|·10⁶ div (N·L) — shares are never
    * float, so the gauge is bit-identical however the sums merge. One
    * label-sized aggregation plus a one-row (N) broadcast; the same
    * shape monitors ANY target mixture (replace L-uniform with target
    * weights). Complements q_mix_weighted (which SAMPLES to a target)
    * by measuring how far the current corpus sits from it. */
  private val qMixDeviation = Q(
    "q_mix_deviation",
    (s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "lang")
      val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val tot = byLang.agg(sum(col("c")).as("n"), count(lit(1)).as("l"))
      byLang.join(broadcast(tot))
        .select(col("lang"), col("c").as("n_docs"),
          expr("(abs(c * l - n) * 1000000L) div (n * l)").as("share_dev_micro"))
        .orderBy("lang")
    },
    Some("""WITH bl AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
            t AS (SELECT sum(c) AS n, count(*) AS l FROM bl)
            SELECT lang, c AS n_docs,
              CAST((abs(c * l - n) * 1000000) // (n * l) AS BIGINT)
                AS share_dev_micro
            FROM bl, t ORDER BY lang"""))

  /** TABLE DIFF / reconciliation — the data-migration answer to "what
    * changed between these two corpus versions?": a FULL OUTER join on
    * the key classifies every row as added (left-null), removed
    * (right-null), changed (both present, content hashes differ), or
    * unchanged — with per-class counts and key-sums so a misclassified
    * row moves the gate twice. The derived second version applies three
    * deterministic mutations (drop doc_id≡0 mod 97, rewrite text at
    * ≡0 mod 101, append 25 new ids past the corpus max) that the
    * oracle re-derives from the same rules.
    *
    * Scale shape: ONE key-keyed full-outer shuffle (the q_cdc_merge
    * lowering) comparing HASHES, not texts — the network carries a long
    * per side however wide the rows; the class rollup is 4 rows. */
  private val qTableDiff = Q(
    "q_table_diff",
    (s, dir) => {
      import graft.functions.GraftFunctions.charHashNative
      val base = table(s, dir, "documents").select(col("doc_id"),
        charHashNative(col("text")).as("h"))
      val maxId = table(s, dir, "documents").agg(max(col("doc_id"))).head.getLong(0)
      val other = table(s, dir, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          charHashNative(when(col("doc_id") % 101 === 0,
            concat(lit("edited: "), col("text"))).otherwise(col("text"))).as("h"))
        .unionAll(table(s, dir, "documents").orderBy(col("doc_id")).limit(25)
          .select((col("doc_id") + lit(maxId + 1)).as("doc_id"),
            charHashNative(col("text")).as("h")))
      base.select(col("doc_id"), col("h").as("hb"))
        .join(other.select(col("doc_id"), col("h").as("ho")), Seq("doc_id"), "full")
        .select(col("doc_id"),
          when(col("hb").isNull, "added")
            .when(col("ho").isNull, "removed")
            .when(col("hb") =!= col("ho"), "changed")
            .otherwise("unchanged").as("cls"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
        .orderBy("cls")
    },
    Some("""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
            base AS (SELECT doc_id FROM documents),
            other AS (
              SELECT doc_id,
                CASE WHEN doc_id % 101 = 0 THEN TRUE ELSE FALSE END AS edited
              FROM documents WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + m + 1, FALSE FROM
                (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 25), mx),
            diff AS (
              SELECT coalesce(base.doc_id, other.doc_id) AS doc_id,
                CASE WHEN base.doc_id IS NULL THEN 'added'
                  WHEN other.doc_id IS NULL THEN 'removed'
                  WHEN other.edited THEN 'changed'
                  ELSE 'unchanged' END AS cls
              FROM base FULL OUTER JOIN other ON base.doc_id = other.doc_id)
            SELECT cls, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS key_sum
            FROM diff GROUP BY 1 ORDER BY 1"""))

  /** MARKET-BASKET pair mining (frequent itemsets, k=2) with exact lift
    * — the association-mining primitive behind co-occurrence features:
    * part pairs appearing in the same order, ranked by support, with
    * lift = P(ab)/(P(a)·P(b)) in exact integer micros (decimal(38,0)
    * products, remainder-subtracted floor division — the q_text_chi2
    * discipline, so ranking can't drift on float rounding).
    *
    * Scale shape: pair generation is an equi-self-join on the BASKET key
    * — per-order fan-out is C(basket, 2), bounded by basket size (≤13
    * here, bounded by order shape at any corpus size), never corpus².
    * The support floor prunes before the per-part frequency joins;
    * top-25 is TakeOrderedAndProject. */
  private val qBasketPairs = Q(
    "q_basket_pairs",
    (s, dir) => {
      val dec = "decimal(38,0)"
      val items = table(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      val nOrders = items.select("l_orderkey").distinct().count()
      val pf = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
      pairs
        .join(pf.select(col("l_partkey").as("part_a"), col("cnt").as("ca")), "part_a")
        .join(pf.select(col("l_partkey").as("part_b"), col("cnt").as("cb")), "part_b")
        .select(col("part_a"), col("part_b"), col("support"), {
          val num = col("support").cast(dec) * lit(nOrders).cast(dec) *
            lit(1000000L).cast(dec)
          val den = col("ca").cast(dec) * col("cb").cast(dec)
          ((num - num % den) / den).cast("long").as("lift_micro")
        })
        .orderBy(col("support").desc, col("part_a"), col("part_b"))
        .limit(25)
    },
    Some("""WITH items AS (
              SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
            pf AS (SELECT l_partkey, count(*) AS cnt FROM items GROUP BY 1),
            pairs AS (
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                count(*) AS support
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
            SELECT part_a, part_b, support,
              CAST((CAST(support AS HUGEINT) * n_orders * 1000000)
                // (CAST(fa.cnt AS HUGEINT) * fb.cnt) AS BIGINT) AS lift_micro
            FROM pairs
            JOIN pf fa ON fa.l_partkey = part_a
            JOIN pf fb ON fb.l_partkey = part_b
            CROSS JOIN n
            WHERE support >= 2
            ORDER BY support DESC, part_a, part_b LIMIT 25"""))

  /** Keep-latest compaction (the upsert/CDC half of dedup: exact dedup
    * keeps the FIRST copy of identical content, this keeps the NEWEST
    * version per key): latest event per user by (ts, event_id).
    *
    * Scale shape: `max_by` with a struct ordering is a declarative
    * aggregate — partial per-partition maxima merge map-side, so one
    * shuffle of one row per key, never a per-key window scan or a
    * whole-row sort. */
  private val qDedupLatest = Q(
    "q_dedup_latest",
    (s, dir) => table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.ts").as("ts"), col("r.value").as("value"))
      .orderBy("user_id"),
    Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM (
              SELECT user_id, event_id, ts, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1 ORDER BY user_id"""))

  // -- data profiling ----------------------------------------------------

  /** Column-level profile (the data-governance pass a corpus gets before
    * training: row/null/distinct counts, value range). One independent
    * aggregation per profiled column, unioned:
    *
    * Scale shape: each sub-aggregation scans exactly ONE column — under a
    * columnar format the profile reads each profiled column once, never
    * the full table width, and the per-column exact distinct is the
    * standard two-shuffle expansion. (A single multi-countDistinct agg
    * would instead Expand every row ×columns — the shape q_agg_distinct's
    * pre-dedup rewrite exists to avoid.) For very-high-cardinality
    * columns the HLL contract of q_agg_approx_distinct is the drop-in. */
  private val qProfileColumns = Q(
    "q_profile_columns",
    (s, dir) => {
      val l = table(s, dir, "lineitem")
      val cols = Seq("l_returnflag", "l_linestatus", "l_suppkey",
        "l_quantity", "l_shipdate")
      cols.map { c =>
        l.select(col(c))
          .agg(count(lit(1)).as("n_rows"),
            count(col(c)).as("n_nonnull"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_v"),
            max(col(c)).cast("string").as("max_v"))
          .select(lit(c).as("column_name"), col("n_rows"),
            (col("n_rows") - col("n_nonnull")).as("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"))
      }.reduce(_ unionByName _).orderBy("column_name")
    },
    Some(Seq("l_returnflag", "l_linestatus", "l_suppkey",
        "l_quantity", "l_shipdate").map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
            count(*) - count($c) AS n_null,
            count(DISTINCT $c) AS n_distinct,
            CAST(min($c) AS VARCHAR) AS min_v,
            CAST(max($c) AS VARCHAR) AS max_v
          FROM lineitem"""
    }.mkString("", " UNION ALL ", " ORDER BY column_name")))

  // -- CDC merge / upsert --------------------------------------------------

  /** MERGE INTO (upsert+delete) — apply a CDC change batch to a base
    * snapshot: U rows replace the base row's price, D rows remove it,
    * I rows append. The change batch is derived deterministically from
    * orders (key%10==3 → U with price+100, key%10==7 → D, key%100==1 →
    * I under a shifted key), so base and changes share no accidental
    * overlap beyond the intended one-change-per-key.
    *
    * Scale shape: a single full-outer shuffle join on the merge key —
    * exactly what an engine with MERGE INTO lowers to when the change
    * batch is too big to broadcast (full-outer cannot broadcast); both
    * sides hash-partition once and the merge decision is a per-row
    * CASE, no window, no driver state. Skew: the merge key is unique
    * per side by construction (primary-key MERGE; pinned in
    * SkewWideShuffleSpec), so no key can hot-spot a reducer; a MERGE on
    * a non-unique key would swap in SkewJoins.skewSafeFullOuter, since
    * AQE cannot split either side of a full-outer join. */
  private val qCdcMerge = Q(
    "q_cdc_merge",
    (s, dir) => {
      val src = table(s, dir, "orders")
      val base = src.select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        fixed4(col("o_totalprice")).as("price_units"))
      val upd = src.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey").as("k"), lit("U").as("op"),
          fixed4(col("o_totalprice") + 100).as("new_units"))
      val del = src.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast("long").as("new_units"))
      // insert keys are shifted past max(o_orderkey), derived from the
      // corpus (a constant offset would silently collide at sf>=2 where
      // orderkeys exceed any fixed literal); the 1-row aggregate
      // broadcasts, so this adds no shuffle
      val off = src.agg((max(col("o_orderkey")) + 1L).as("ins_off"))
      val ins = src.filter(col("o_orderkey") % 100 === 1)
        .crossJoin(broadcast(off))
        .select((col("o_orderkey") + col("ins_off")).as("k"), lit("I").as("op"),
          fixed4(col("o_totalprice")).as("new_units"))
      base.join(upd.union(del).union(ins), Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k"),
          (coalesce(col("new_units"), col("price_units")) / 10000.0).as("price"),
          coalesce(col("status"), lit("NEW")).as("status"))
        .orderBy("k")
    },
    Some(s"""WITH base AS (
               SELECT o_orderkey AS k, o_orderstatus AS status,
                 ${fixed4Sql("o_totalprice")} AS price_units FROM orders),
             changes AS (
               SELECT o_orderkey AS k, 'U' AS op,
                 ${fixed4Sql("o_totalprice + 100")} AS new_units
               FROM orders WHERE o_orderkey % 10 = 3
               UNION ALL
               SELECT o_orderkey, 'D', NULL FROM orders WHERE o_orderkey % 10 = 7
               UNION ALL
               SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
                 'I', ${fixed4Sql("o_totalprice")}
               FROM orders WHERE o_orderkey % 100 = 1)
             SELECT COALESCE(b.k, c.k) AS k,
               CAST(COALESCE(c.new_units, b.price_units) AS DOUBLE) / 10000.0 AS price,
               COALESCE(b.status, 'NEW') AS status
             FROM base b FULL JOIN changes c ON b.k = c.k
             WHERE c.op IS NULL OR c.op <> 'D'
             ORDER BY k"""))

  /** Data-quality constraint gate (the Deequ-style pre-ingest check): a
    * rule set evaluated corpus-wide — value ranges, referential
    * integrity, derived-column consistency — reported as one violations
    * summary. Each rule is a single aggregation over ONE scan (the FK
    * rule a broadcast anti-join), unioned; rules never shuffle row data,
    * only per-rule counters, so the gate costs one pass per checked
    * table at any corpus size. */
  private val qDqChecks = Q(
    "q_dq_checks",
    (s, dir) => {
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val e = table(s, dir, "events")
      val d = table(s, dir, "documents")
      val quantityRule = l.agg(
        lit("lineitem_quantity_range").as("rule"),
        count(lit(1)).as("n_checked"),
        sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L))
          .as("n_violations"))
      // scalar × scalar join of the two counters (orphan count via
      // broadcast anti-join; checked count from the plain scan)
      val fkViol = o.join(broadcast(c), col("o_custkey") === col("c_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val fkRuleFull = o.agg(count(lit(1)).as("n_checked"))
        .crossJoin(broadcast(fkViol))
        .select(lit("orders_customer_fk").as("rule"),
          col("n_checked"), col("n_violations"))
      val valueRule = e.agg(
        lit("events_value_nonnegative").as("rule"),
        count(lit(1)).as("n_checked"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_violations"))
      val ncharsRule = d.agg(
        lit("documents_nchars_consistent").as("rule"),
        count(lit(1)).as("n_checked"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("n_violations"))
      quantityRule.union(fkRuleFull).union(valueRule).union(ncharsRule)
        .withColumn("pass", col("n_violations") === 0)
        .orderBy("rule")
    },
    Some("""SELECT * FROM (
              SELECT 'lineitem_quantity_range' AS rule, count(*) AS n_checked,
                CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_violations,
                sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) = 0
                  AS pass
              FROM lineitem
              UNION ALL
              SELECT 'orders_customer_fk', (SELECT count(*) FROM orders),
                count(*), count(*) = 0
              FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
              UNION ALL
              SELECT 'events_value_nonnegative', count(*),
                CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
                sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
              FROM events
              UNION ALL
              SELECT 'documents_nchars_consistent', count(*),
                CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT),
                sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
              FROM documents) t ORDER BY rule"""))

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** INCREMENTAL corpus ingestion through the Store — the pattern a
    * continuously-crawled 100 TB corpus actually runs: the fingerprints
    * of everything already ingested live in the kv Store; each incoming
    * delta is deduplicated AGAINST THE STORE (drop re-crawls of known
    * content), then within itself (first occurrence per fingerprint),
    * and the accepted documents' fingerprints are APPENDED to the Store
    * so the next delta sees them. Fixture: documents with doc_id%3 != 0
    * are "already ingested" history; the full table arrives as the next
    * delta (re-crawls + genuinely new docs).
    *
    * Scale shape: fingerprints are portable 64-bit content hashes — the
    * Store holds ONE long per known document, kilobytes per billion
    * docs per partition; the delta⟂store anti-join hash-partitions both
    * sides on the fingerprint (no broadcast assumption — history is the
    * BIG side at 100 TB); in-delta dedup is a fingerprint group-by with
    * map-side partials; the append rides the sink's two-phase commit,
    * so a crashed ingestion run publishes nothing and re-runs cleanly. */
  private val qIngestIncremental = Q(
    "q_ingest_incremental",
    (s, dir) => {
      val store = sys.props("java.io.tmpdir") + "/graft-kvsink/q_ingest_incremental"
      rmTree(new java.io.File(store))
      val docs = table(s, dir, "documents")
      val fp = graft.operators.PortableHash.charHash(col("text"))
      // bootstrap the Store with the historical fingerprint set
      docs.filter(col("doc_id") % 3 =!= 0)
        .select(fp.as("fp")).distinct()
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$store/batch=0").mode("append").save()
      // one ingestion round: delta deduped against the batch-0 snapshot
      // and within itself, accepted fps appended as batch=1
      // (operators/IncrementalIngest; multi-round contract spec'd in
      // IncrementalIngestSpec)
      val delta = docs.select(col("doc_id"), col("lang"), fp.as("fp"))
      graft.operators.IncrementalIngest.ingest(s, store, 1L, delta)
        .orderBy("doc_id")
    },
    Some(s"""WITH fps AS (
               SELECT doc_id, lang, ${charHashSql("text")} AS fp FROM documents),
             hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0),
             novel AS (
               SELECT * FROM fps f
               WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = f.fp))
             SELECT min(doc_id) AS doc_id,
               min_by(lang, doc_id) AS lang, fp
             FROM novel GROUP BY fp ORDER BY doc_id"""))

  /** The shared oracle of the near-dup ingestion twins (batch round here,
    * live foreachBatch rounds in queries/Streaming): accepted = delta
    * docs whose 4 minhash band keys collide with neither the historical
    * crawl's bands nor a smaller-doc_id delta doc's. One oracle serves
    * both BECAUSE the all-seen contract makes round decomposition
    * invisible when deltas arrive in doc_id order (see
    * IncrementalIngest.ingestNearDup). */
  private[queries] lazy val nearDupIngestOracle: String = {
    import graft.operators.{IncrementalIngest, PortableHash}
    s"""WITH toks AS (
       |    SELECT doc_id, lang, string_split(lower(text), ' ') AS tl FROM documents),
       |  tok3 AS (SELECT * FROM toks WHERE len(tl) >= 3),
       |  th AS (SELECT doc_id, lang, list_transform(tl, t -> ${charHashSql("t")}) AS th
       |         FROM tok3),
       |  hashed AS (
       |    SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, len(th) - 2),
       |      i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
       |    FROM th),
       |  sig AS (SELECT doc_id, lang, ${PortableHash.minhashSigSql("hs", 16)} AS sg
       |          FROM hashed),
       |  bands AS (SELECT doc_id, lang, unnest(${IncrementalIngest.bandKeysSql("sg")}) AS bk
       |            FROM sig),
       |  hist AS (SELECT DISTINCT bk FROM bands WHERE doc_id % 3 <> 0),
       |  delta AS (SELECT * FROM bands WHERE doc_id % 3 = 0),
       |  firstb AS (SELECT bk, min(doc_id) AS first_doc FROM delta GROUP BY bk),
       |  dropped AS (
       |    SELECT DISTINCT d.doc_id FROM delta d
       |    WHERE EXISTS (SELECT 1 FROM hist h WHERE h.bk = d.bk)
       |    UNION
       |    SELECT DISTINCT d.doc_id FROM delta d
       |    JOIN firstb f ON d.bk = f.bk AND d.doc_id > f.first_doc)
       |  SELECT DISTINCT doc_id, lang FROM delta d
       |  WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
       |  ORDER BY doc_id""".stripMargin
  }

  /** Banded delta/history sides shared by the near-dup ingest twins:
    * (doc_id, lang, bk) — 4 band-key rows per sig-able document. */
  private[queries] def bandedDocs(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions._
    df.withColumn("tl", split(lower(col("text")), " "))
      .filter(size(col("tl")) >= 3)
      .withColumn("sg", minHashSigNative(gramHashesNative(col("tl"), 3), 16))
      .select(col("doc_id"), col("lang"),
        explode(graft.operators.IncrementalIngest.bandKeys(col("sg"))).as("bk"))
  }

  /** Near-duplicate incremental ingestion, one batch round: the
    * historical crawl's LSH band keys bootstrap the Store, the delta
    * (every third document) is filtered against that snapshot and
    * against itself first-wins, and all delta bands append as the next
    * batch. q_stream_ingest_neardup runs the SAME rounds live. */
  private val qIngestNeardup = Q(
    "q_ingest_neardup",
    (s, dir) => {
      val store = sys.props("java.io.tmpdir") + "/graft-kvsink/q_ingest_neardup"
      rmTree(new java.io.File(store))
      val docs = table(s, dir, "documents")
      bandedDocs(docs.filter(col("doc_id") % 3 =!= 0))
        .select("bk").distinct()
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$store/batch=0").mode("append").save()
      val delta = bandedDocs(docs.filter(col("doc_id") % 3 === 0))
      graft.operators.IncrementalIngest.ingestNearDup(s, store, 1L,
          delta.select("doc_id", "lang").distinct(),
          delta.select("doc_id", "bk"))
        .orderBy("doc_id")
    },
    Some(nearDupIngestOracle))

  /** Whole-table CONTENT DIGEST — the migration-validation primitive: an
    * order-insensitive fingerprint of a table's content (sum over rows
    * of a portable per-row hash), so two engines / two copies / two
    * points in a migration can be compared by exchanging ONE number per
    * table instead of any data. Row hash = the portable rolling
    * charHash over a canonical '|'-joined rendering of INTEGER-valued
    * columns (keys + 1e-4-quantized money) — integer-to-string
    * rendering is engine-identical, where float/timestamp formatting is
    * not. SUM of per-row hashes (each < 1e9, corpus rows < 9e9 before
    * long overflow) is commutative, so the digest is partitioning- and
    * order-invariant.
    *
    * Scale shape: one narrow projection + hash per row, one partial+
    * final SUM per table — counters-only network, embarrassingly
    * parallel, no shuffle of row data. */
  private val qTableDigest = Q(
    "q_table_digest",
    (s, dir) => {
      def digest(df: org.apache.spark.sql.DataFrame, name: String,
          canon: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(graft.operators.PortableHash.charHash(canon)).as("digest"))
          .select(lit(name).as("tbl"), col("n_rows"), col("digest"))
      val l = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      digest(l, "lineitem", concat_ws("|",
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), fixed4(col("l_extendedprice"))))
        .unionAll(digest(o, "orders", concat_ws("|",
          col("o_orderkey"), col("o_custkey"), fixed4(col("o_totalprice")))))
        .unionAll(digest(c, "customer", concat_ws("|",
          col("c_custkey"), col("c_nationkey"), fixed4(col("c_acctbal")))))
        .orderBy("tbl")
    },
    Some(s"""SELECT 'customer' AS tbl, count(*) AS n_rows,
               CAST(sum(${charHashSql(
                 s"concat_ws('|', c_custkey, c_nationkey, ${fixed4Sql("c_acctbal")})")})
                 AS BIGINT) AS digest
             FROM customer
             UNION ALL
             SELECT 'lineitem', count(*),
               CAST(sum(${charHashSql(
                 s"concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber, ${fixed4Sql("l_extendedprice")})")})
                 AS BIGINT)
             FROM lineitem
             UNION ALL
             SELECT 'orders', count(*),
               CAST(sum(${charHashSql(
                 s"concat_ws('|', o_orderkey, o_custkey, ${fixed4Sql("o_totalprice")})")})
                 AS BIGINT)
             FROM orders
             ORDER BY tbl"""))

  /** Store COMPACTION — the maintenance pass an append-only ingestion
    * Store needs: many small per-round batch directories are read back
    * through the recursive kv source and rewritten as ONE batch with few
    * files (the small-files problem at 100 TB: metadata and open-file
    * overhead grow with file count, not byte count). The gate proves
    * content invariance the digest way: the compacted store's row count
    * and fingerprint SUM must equal the oracle's digest computed
    * directly from the source documents — any dropped, duplicated or
    * corrupted row moves the commutative sum. File-count reduction and
    * hidden-path discipline are pinned in IncrementalIngestSpec. */
  private val qStoreCompact = Q(
    "q_store_compact",
    (s, dir) => {
      val root = sys.props("java.io.tmpdir") + "/graft-kvsink/q_store_compact"
      rmTree(new java.io.File(root))
      val docs = table(s, dir, "documents")
      val fp = graft.operators.PortableHash.charHash(col("text"))
      // three ingestion-era batches (disjoint thirds of the corpus)
      for (b <- 0 until 3)
        docs.filter(col("doc_id") % 3 === b)
          .select(col("doc_id"), fp.as("fp"))
          .write.format("graft.sources.KvSinkProvider")
          .option("path", s"$root/batches/batch=$b").mode("append").save()
      // compaction: recursive read of the batch tree → one 2-file batch
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", s"$root/batches").option("recursive", "true")
        .option("schema", "doc_id LONG, fp LONG").load()
        .repartition(2)
        .write.format("graft.sources.KvSinkProvider")
        .option("path", s"$root/compacted").mode("append").save()
      // digest of the COMPACTED store vs the source-data oracle
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", s"$root/compacted")
        .option("schema", "doc_id LONG, fp LONG").load()
        .agg(count(lit(1)).as("n_rows"), sum(col("fp")).as("digest"))
    },
    Some(s"""SELECT count(*) AS n_rows,
               CAST(sum(${charHashSql("text")}) AS BIGINT) AS digest
             FROM documents"""))

  /** Right-to-be-forgotten DELETE across the corpus Store (operators/
    * ZoneMaps.targetedDelete): a user's documents — contiguous under the
    * doc_id layout key — are erased by rewriting ONLY the layout files
    * whose zones intersect the forget range; every other file is never
    * opened (copy-on-write DELETE, the Delta/Iceberg discipline). The
    * gate is the digest argument: per-lang row counts plus commutative
    * content-hash sums over the POST-delete store must equal the oracle
    * computed on the complement of the forget set — a leaked survivor, a
    * lost bystander row, or a corrupted rewrite all move the sum. The
    * files-rewritten < files-total evidence is pinned in
    * StoreForgetSpec (counts depend on range boundaries, so they belong
    * in a spec, not hash-gated output).
    *
    * Scale shape: delete cost ∝ deleted data, not table size — the
    * manifest (metadata, one row per file) selects the rewrite set at
    * plan time; the rewrite itself is a narrow filtered scan of the hit
    * files only. */
  private val qStoreForget = Q(
    "q_store_forget",
    (s, dir) => {
      val root = sys.props("java.io.tmpdir") + "/graft-forget/q_store_forget"
      rmTree(new java.io.File(root))
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      graft.operators.ZoneMaps.writeLayout(docs, "doc_id", 8, s"$root/layout")
      val (_, _, after) = graft.operators.ZoneMaps.targetedDelete(
        s, s"$root/layout", "doc_id", 10L, 39L, s"$root/patch")
      after.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(graft.operators.PortableHash.charHash(col("text"))).as("digest"))
        .orderBy("lang")
    },
    Some(s"""SELECT lang, count(*) AS n,
               CAST(sum(${charHashSql("text")}) AS BIGINT) AS digest
             FROM documents WHERE doc_id NOT BETWEEN 10 AND 39
             GROUP BY lang ORDER BY lang"""))

  /** INCREMENTAL AGGREGATE-VIEW maintenance — keeping a materialized
    * per-group aggregate current as corpus batches land, WITHOUT ever
    * rescanning history: the view's state is the group-level partial
    * (count, sum, min, max — a commutative monoid), history contributes
    * only through that state (group-cardinality-sized, kilobytes at any
    * corpus size), and a delta batch folds in by unioning its own
    * partials and re-reducing. The oracle aggregates the full table
    * directly, so the gate proves state + delta ≡ recompute — the
    * algebraic-merge property every incremental pipeline (and every
    * mergeable sketch in q_agg_sketch_incremental) relies on.
    *
    * Scale shape: the delta is scanned once (map-side partials); the
    * merge shuffles group-cardinality rows from BOTH sides — history
    * data volume never appears in the plan. Works verbatim for any
    * monoid state, incl. the HLL registers next door. */
  private val qAggIncrementalView = Q(
    "q_agg_incremental_view",
    (s, dir) => {
      val state = sys.props("java.io.tmpdir") + "/graft-view/q_agg_incremental_view"
      rmTree(new java.io.File(state))
      val o = table(s, dir, "orders")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(fixed4(col("o_totalprice"))).as("rev4"),
            min(col("o_orderkey")).as("k_min"), max(col("o_orderkey")).as("k_max"))
      // history lands as materialized view state (three earlier batches)
      partials(o.filter(col("o_orderkey") % 4 =!= 0))
        .write.mode("overwrite").parquet(state)
      // a new delta folds in through the monoid — history is NOT rescanned
      graft.core.Graft.cachedSchemaParquet(s, state)
        .unionAll(partials(o.filter(col("o_orderkey") % 4 === 0)))
        .groupBy(col("o_orderstatus"))
        .agg((sum(col("rev4")) / 10000.0).as("revenue"), sum(col("n")).as("n"),
          min(col("k_min")).as("k_min"), max(col("k_max")).as("k_max"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""SELECT o_orderstatus, ${moneySumSql("o_totalprice")} AS revenue,
               count(*) AS n, min(o_orderkey) AS k_min, max(o_orderkey) AS k_max
             FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Deterministic GLOBAL SHUFFLE — the training-order randomization
    * every epoch needs: a seeded pseudo-random permutation of the corpus
    * with an explicit global position per document. The permutation key
    * is the Knuth-multiplier hash (injective mod P for ids < P, so no
    * tie-handling), and the GLOBAL position — the part that naively
    * wants a single-partition row_number over the whole corpus — comes
    * from the salted prefix-sum machinery (operators/SaltedPrefix): per-
    * bucket numbering in parallel, bucket offsets stitched. Re-running
    * assigns every document the same position (pure function of the
    * data), which is what makes a 100 TB epoch resumable.
    *
    * Scale shape: hash is a per-row projection; position assignment is
    * the documented two-phase salted prefix sum — order-preserving
    * buckets numbered in parallel, one broadcast of bucket totals, never
    * a global single-task sort. */
  /** q_shuffle_global's permutation modulus/multiplier: prime > 2^34
    * (covers the sf10 key-shifted id domain; injective for ids below
    * it), multiplier 3^18 < 2^29 so (P−1)·K stays in int64 in Spark and
    * DuckDB alike. */
  private val ShuffleP = 17179869209L
  private val ShuffleK = 387420489L

  private val qShuffleGlobal = Q(
    "q_shuffle_global",
    (s, dir) => {
      // the permutation hash needs a modulus ABOVE the id domain, or the
      // `%` collides and SaltedPrefix's unique-order precondition breaks
      // — caught by the r13 sf10 gate (key-shifted ids reach 9.9e9, past
      // docHash's P=1e9+7: 291k position diffs from hash ties). 2^34-ish
      // prime × a sub-2^29 multiplier keeps the product in int64 for
      // BOTH engines; injective for ids < SHUFFLE_P (documented bound —
      // at larger id domains pick the next prime up).
      val docs = table(s, dir, "documents")
        .select(col("doc_id"),
          (((col("doc_id") % lit(ShuffleP)) * lit(ShuffleK) + lit(40503L))
            % lit(ShuffleP)).as("h"),
          lit("all").as("k"))
      graft.operators.SaltedPrefix
        .exclusivePrefixSum(docs, "k", "h", lit(1L), nb = 32)
        .select(col("doc_id"), (col("start_off") + 1).as("pos"))
        .orderBy(col("pos"))
    },
    Some(s"""SELECT doc_id,
               row_number() OVER (ORDER BY
                 ((doc_id % $ShuffleP) * $ShuffleK + 40503) % $ShuffleP) AS pos
             FROM documents ORDER BY pos"""))


  /** Trained text classifier (the CCNet/fastText-style quality- or
    * language-filter step: a linear bag-of-words model trained on
    * labeled documents scores every unlabeled one): multinomial Naive
    * Bayes over word unigrams with add-one smoothing, trained on the
    * 80% split (doc_id % 5 ≠ 0) with `lang` as the label, evaluated on
    * the held-out 20%. All model arithmetic is EXACT INTEGER in the
    * repo's bitlen discipline — the per-token surprisal for class c is
    * bitlen(totc + V) − bitlen(count(w,c) + 1), i.e. −log2 of the
    * smoothed class-conditional probability discretized to whole bits
    * (Spark `bin` ↔ DuckDB `format('{:b}')`), plus the same
    * discretization of the class prior — so both engines rank classes
    * bit-identically and the hash gate holds. Prediction = argmin
    * total bits, ties broken by class name. (The test corpus draws all
    * languages from one shared vocabulary with per-language frequency
    * profiles, so this classifies by frequency profile — the exact
    * regime where multinomial NB applies.)
    *
    * 100 TB shape: training is two count group-bys (shuffle = distinct
    * (class, word) pairs, map-side partials). Scoring joins the test
    * token stream against the count table keyed on (class, word) — NO
    * broadcast of the model (corpus vocabularies outgrow any driver);
    * the only broadcast is the K-row class-totals table crossed onto
    * the token stream (bounded by the label alphabet, not the data).
    * Argmin is a per-document window over K rows. */
  private val qClassifyNb = Q(
    "q_classify_nb",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val trTok = train.select(col("lang"),
        explode(split(lower(col("text")), " ")).as("w"))
      val cnt = trTok.groupBy(col("lang").as("cls"), col("w"))
        .agg(count(lit(1)).as("cwc"))
      val classes = trTok.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("totc"))
        .join(train.groupBy(col("lang").as("cls"))
          .agg(count(lit(1)).as("ndocs")), "cls")
        .crossJoin(trTok.select("w").distinct().agg(count(lit(1)).as("v")))
        .crossJoin(train.agg(count(lit(1)).as("ntr")))
      val teTok = test.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("w"))
      val scored = teTok.crossJoin(broadcast(classes))
        .join(cnt, Seq("cls", "w"), "left")
        .withColumn("bits",
          (length(bin(col("totc") + col("v"))) -
            length(bin(coalesce(col("cwc"), lit(0L)) + 1))).cast("long"))
      val perClass = scored
        .groupBy(col("doc_id"), col("lang"), col("cls"))
        .agg(sum(col("bits")).as("tok_bits"),
          (max(length(bin(col("ntr")))) - max(length(bin(col("ndocs")))))
            .cast("long").as("prior_bits"))
        .withColumn("total_bits", col("tok_bits") + col("prior_bits"))
      val wr = Window.partitionBy(col("doc_id"))
        .orderBy(col("total_bits"), col("cls"))
      perClass.withColumn("rk", row_number().over(wr))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          col("cls").as("pred_lang"), col("total_bits").as("bits"))
        .orderBy(col("doc_id"))
    },
    Some(nbOracleSql))

  /** Shared multinomial-NB oracle — q_classify_nb and its persisted /
    * incremental Store twins gate against the IDENTICAL SQL: neither
    * persistence nor lossless delta merging may change one prediction. */
  private[queries] lazy val nbOracleSql: String =
    """WITH train AS (
              SELECT * FROM documents WHERE doc_id % 5 <> 0),
            test AS (
              SELECT * FROM documents WHERE doc_id % 5 = 0),
            trtok AS (
              SELECT lang, unnest(string_split(lower(text), ' ')) AS w
              FROM train),
            cnt AS (
              SELECT lang AS cls, w, count(*) AS cwc
              FROM trtok GROUP BY 1, 2),
            classes AS (
              SELECT c.cls, c.totc, p.ndocs, v.v, n.ntr
              FROM (SELECT lang AS cls, count(*) AS totc
                    FROM trtok GROUP BY 1) c
              JOIN (SELECT lang AS cls, count(*) AS ndocs
                    FROM train GROUP BY 1) p USING (cls),
                   (SELECT count(DISTINCT w) AS v FROM trtok) v,
                   (SELECT count(*) AS ntr FROM train) n),
            tetok AS (
              SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
              FROM test),
            ex AS (
              SELECT t.doc_id, t.lang, k.cls, k.ndocs, k.ntr,
                length(format('{:b}', k.totc + k.v)) -
                  length(format('{:b}', coalesce(c.cwc, 0) + 1)) AS bits
              FROM tetok t CROSS JOIN classes k
              LEFT JOIN cnt c ON c.cls = k.cls AND c.w = t.w),
            pc AS (
              SELECT doc_id, lang, cls,
                CAST(sum(bits)
                  + length(format('{:b}', max(ntr)))
                  - length(format('{:b}', max(ndocs))) AS BIGINT)
                  AS total_bits
              FROM ex GROUP BY doc_id, lang, cls),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY total_bits, cls) AS r
              FROM pc)
            SELECT doc_id, lang AS true_lang, cls AS pred_lang,
              total_bits AS bits
            FROM rk WHERE r = 1 ORDER BY doc_id"""

  /** The held-out 20 % scored with predictions joined back to their true
    * labels — the shared output shape of the three NB gates. */
  private def nbScoreOutput(test: org.apache.spark.sql.DataFrame,
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored.join(test.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang").as("true_lang"),
        col("pred_cls").as("pred_lang"), col("total_bits").as("bits"))
      .orderBy("doc_id")

  /** TRAIN ONCE / SCORE MANY: q_classify_nb's model committed through
    * the Store ([[graft.operators.ModelStore]] — the model-artifact twin
    * of the persisted ANN index): sufficient statistics staged as a
    * versioned generation (manifest-last, crash leaves an invisible
    * orphan), scoring runs entirely off the committed tables — the
    * training documents are never re-scanned (spec-pinned). Shares
    * q_classify_nb's oracle verbatim: persistence cannot change a
    * prediction. At 100 TB this is the production shape — one corpus
    * pass to train, then every scoring batch reads the model-sized
    * count tables only. */
  private val qClassifyNbPersisted = Q(
    "q_classify_nb_persisted",
    (s, dir) => {
      val mdl = s"${sys.props("java.io.tmpdir")}/graft_model/" +
        s"${s.sparkContext.applicationId}/q_classify_nb_persisted"
      val fs = new org.apache.hadoop.fs.Path(mdl)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(mdl), true)
      val docs = table(s, dir, "documents")
      graft.operators.ModelStore.train(
        docs.filter(col("doc_id") % 5 =!= 0), "lang", "text", mdl)
      val test = docs.filter(col("doc_id") % 5 === 0)
      nbScoreOutput(test,
        graft.operators.ModelStore.score(test, "doc_id", "text", mdl))
    },
    Some(nbOracleSql))

  /** LOSSLESS INCREMENTAL TRAINING: the model is trained on HALF the
    * training split, then extended with the other half via
    * [[graft.operators.ModelStore.appendDelta]] — and still gates
    * against the one-shot oracle, because a count model's sufficient
    * statistics merge exactly (per-(class, word) counts and class
    * totals sum; the smoothing vocabulary is re-derived from the merged
    * tables, so delta-added words enter V). The ingest-pipeline shape:
    * new labeled batches extend the committed model without re-reading
    * absorbed documents, and every extension is a frozen version
    * (asOf-scoreable, spec-pinned). */
  private val qClassifyNbIncremental = Q(
    "q_classify_nb_incremental",
    (s, dir) => {
      val mdl = s"${sys.props("java.io.tmpdir")}/graft_model/" +
        s"${s.sparkContext.applicationId}/q_classify_nb_incremental"
      val fs = new org.apache.hadoop.fs.Path(mdl)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(mdl), true)
      val docs = table(s, dir, "documents")
      graft.operators.ModelStore.train(
        docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        "lang", "text", mdl)
      graft.operators.ModelStore.appendDelta(
        docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
        "lang", "text", mdl)
      val test = docs.filter(col("doc_id") % 5 === 0)
      nbScoreOutput(test,
        graft.operators.ModelStore.score(test, "doc_id", "text", mdl))
    },
    Some(nbOracleSql))

  /** GENERATION COMPACTION for the model store: after incremental
    * training accretes members, [[graft.operators.ModelStore.compact]]
    * merges the member statistics — the same (cls, w)/cls sums scoring
    * performs on every read — ONCE at write time and commits a
    * single-member manifest. Train half + delta half + compact still
    * gates against the one-shot oracle because the merge is associative:
    * merging early is the same arithmetic as merging at read time. The
    * 100 TB shape: continuous labeled-batch absorption with
    * periodically-rebounded read amplification; asOf versions stay
    * frozen (ModelStoreSpec pins member collapse + history). */
  private val qClassifyNbCompacted = Q(
    "q_classify_nb_compacted",
    (s, dir) => {
      val mdl = s"${sys.props("java.io.tmpdir")}/graft_model/" +
        s"${s.sparkContext.applicationId}/q_classify_nb_compacted"
      val fs = new org.apache.hadoop.fs.Path(mdl)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(mdl), true)
      val docs = table(s, dir, "documents")
      graft.operators.ModelStore.train(
        docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
        "lang", "text", mdl)
      graft.operators.ModelStore.appendDelta(
        docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
        "lang", "text", mdl)
      graft.operators.ModelStore.compact(s, mdl)
      val test = docs.filter(col("doc_id") % 5 === 0)
      nbScoreOutput(test,
        graft.operators.ModelStore.score(test, "doc_id", "text", mdl))
    },
    Some(nbOracleSql))

  /** Data selection via importance resampling (the DSIR recipe, Xie et
    * al. 2023: weight every raw document by how much more likely its
    * n-gram features are under a TARGET distribution than under the raw
    * corpus distribution, then keep the top-weighted slice). Target
    * distribution = the lang='en' subset (a quality-domain proxy);
    * features = adjacent word bigrams with multiplicity. The
    * log-likelihood ratio is EXACT INTEGER in the repo's bitlen
    * discipline: per occurrence,
    * w = [bitlen(R+V) − bitlen(cnt_raw(g)+1)] − [bitlen(T+V) −
    * bitlen(cnt_tgt(g)+1)] — i.e. raw surprisal minus target surprisal,
    * both add-one smoothed over the shared raw vocabulary V, discretized
    * to whole bits (Spark `bin` ↔ DuckDB `format('{:b}')`) — so both
    * engines rank documents bit-identically. Selection = top 150 by
    * (weight desc, doc_id).
    *
    * 100 TB shape: the two n-gram language models are count group-bys
    * (shuffle = distinct bigrams, map-side partials); scoring joins the
    * occurrence stream against the count tables ON THE GRAM KEY — the
    * models are never broadcast (a corpus-scale hashed-n-gram table
    * outgrows any driver); the only broadcast is the 1-row scalar
    * totals. Per-doc reduction is one hash-agg keyed by the
    * high-cardinality doc_id; the final top-k is TakeOrdered-shaped
    * (rank materializes over the already-selected 150 rows). */
  private val qSelectDsir = Q(
    "q_select_dsir",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .filter(size(col("tl")) >= 2)
      val occ = d.select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("tl")) - 1),
          i => concat(element_at(col("tl"), i), lit(" "),
            element_at(col("tl"), i + 1)))).as("g"))
      val cntR = occ.groupBy("g").agg(count(lit(1)).as("cr"))
      val cntT = occ.filter(col("lang") === "en")
        .groupBy("g").agg(count(lit(1)).as("ct"))
      val scal = occ.agg(count(lit(1)).as("rr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
        .crossJoin(cntR.agg(count(lit(1)).as("v")))
      val scored = occ
        .join(cntR, "g")
        .join(cntT, Seq("g"), "left")
        .crossJoin(broadcast(scal))
        .withColumn("wb",
          ((length(bin(col("rr") + col("v"))) - length(bin(col("cr") + 1))) -
            (length(bin(col("tt") + col("v"))) -
              length(bin(coalesce(col("ct"), lit(0L)) + 1)))).cast("long"))
      val perDoc = scored.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_grams"), sum(col("wb")).as("w_bits"))
        .orderBy(col("w_bits").desc, col("doc_id"))
        .limit(150)
      perDoc.withColumn("rk", row_number().over(
          Window.orderBy(col("w_bits").desc, col("doc_id"))))
        .select("rk", "doc_id", "lang", "n_grams", "w_bits")
        .orderBy("rk")
    },
    Some("""WITH d AS (
              SELECT doc_id, lang, string_split(lower(text), ' ') AS tl
              FROM documents
              WHERE len(string_split(lower(text), ' ')) >= 2),
            occ AS (
              SELECT doc_id, lang,
                unnest(list_transform(generate_series(1, len(tl) - 1),
                  i -> tl[i] || ' ' || tl[i+1])) AS g
              FROM d),
            cr AS (SELECT g, count(*) AS cr FROM occ GROUP BY g),
            ct AS (SELECT g, count(*) AS ct FROM occ
                   WHERE lang = 'en' GROUP BY g),
            scal AS (
              SELECT (SELECT count(*) FROM occ) AS rr,
                (SELECT count(*) FROM occ WHERE lang = 'en') AS tt,
                (SELECT count(*) FROM cr) AS v),
            scored AS (
              SELECT o.doc_id, o.lang,
                (length(format('{:b}', s.rr + s.v)) -
                 length(format('{:b}', r.cr + 1))) -
                (length(format('{:b}', s.tt + s.v)) -
                 length(format('{:b}', coalesce(t.ct, 0) + 1))) AS wb
              FROM occ o
              JOIN cr r USING (g)
              LEFT JOIN ct t USING (g)
              CROSS JOIN scal s),
            pd AS (
              SELECT doc_id, lang, count(*) AS n_grams,
                CAST(sum(wb) AS BIGINT) AS w_bits
              FROM scored GROUP BY doc_id, lang
              ORDER BY w_bits DESC, doc_id LIMIT 150)
            SELECT row_number() OVER (ORDER BY w_bits DESC, doc_id) AS rk,
              doc_id, lang, n_grams, w_bits
            FROM pd ORDER BY rk"""))

  /** Token-budget corpus selection (the "fill the training run's token
    * budget with the best documents" step): every document gets an
    * integer lexical-diversity score (distinct-token permille — the
    * cheap quality signal that penalizes boilerplate/repetition), the
    * corpus is ranked (score desc, doc_id), and documents are taken in
    * rank order until the cumulative token count reaches the budget
    * (¼ of the corpus's total tokens, computed from the data so the
    * query is scale-free).
    *
    * 100 TB shape: the rank-ordered running token sum is NOT one global
    * window (that's one task at any scale) — the rank key is encoded
    * into a single numeric order column and the cumulative sum runs
    * through [[graft.operators.SaltedPrefix.exclusivePrefixSumQuantile]]
    * (equi-depth salted stitching: per-bucket sums in parallel, bucket
    * totals lifted by a broadcast offset table; quantile bounds because
    * a score-derived order domain is exactly the skewed-domain case the
    * linear salt collapses on). Budget is a 1-row broadcast scalar. */
  private val qSelectBudget = Q(
    "q_select_budget",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("tl", split(lower(col("text")), " "))
        .withColumn("n_tokens", size(col("tl")).cast("long"))
        .withColumn("score",
          expr("size(array_distinct(tl)) * 1000L div n_tokens"))
        .withColumn("tok", ceil(col("n_chars") / 4.0).cast("long"))
        .withColumn("ord",
          (lit(1000L) - col("score")) * lit(1000000000000L) + col("doc_id"))
        .withColumn("gall", lit(0))
        .select("doc_id", "lang", "score", "tok", "ord", "gall")
      val budget = d.agg(expr("sum(tok) div 4").as("budget"))
      graft.operators.SaltedPrefix
        .exclusivePrefixSumQuantile(d, "gall", "ord", col("tok"))
        .crossJoin(broadcast(budget))
        .withColumn("cum_tok", col("start_off") + col("tok"))
        .filter(col("cum_tok") <= col("budget"))
        .select("doc_id", "lang", "score", "tok", "cum_tok")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, lang,
                CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok,
                len(list_distinct(string_split(lower(text), ' '))) * 1000
                  // len(string_split(lower(text), ' ')) AS score
              FROM documents),
            o AS (
              SELECT doc_id, lang, score, tok,
                CAST(COALESCE(sum(tok) OVER (ORDER BY score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + tok AS BIGINT) AS cum_tok
              FROM t),
            b AS (SELECT CAST(sum(tok) AS BIGINT) // 4 AS budget FROM t)
            SELECT doc_id, lang, CAST(score AS BIGINT) AS score, tok, cum_tok
            FROM o CROSS JOIN b WHERE cum_tok <= budget
            ORDER BY doc_id"""))

  override val queries: Seq[Q] = Seq(
    qTextRepetition, qSplitAssign, qMixWeighted, qSamplePerGroup,
    qPackSequences, qLinesDedup, qProfileColumns, qChunkDocs, qChunkRoundtrip,
    qBasketPairs, qProfileGini, qTableDiff, qMixDeviation, qDedupLatest,
    qCdcMerge, qDqChecks, qIngestIncremental, qIngestNeardup, qTableDigest,
    qStoreCompact,
    qStoreForget, qAggIncrementalView, qShuffleGlobal, qClassifyNb,
    qClassifyNbPersisted, qClassifyNbIncremental, qClassifyNbCompacted,
    qSelectDsir, qSelectBudget)
}
