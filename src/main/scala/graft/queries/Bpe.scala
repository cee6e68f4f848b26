package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Graft._

/** BPE merge training (SURVEY §2.3 tokenization, the training half:
  * q_vocab_encode encodes with a FIXED vocabulary; this learns the
  * merge table from the corpus — the Sennrich-BPE loop every tokenizer
  * build runs).
  *
  * Round structure (the reference's stage-barrier shape, like the
  * k-means fit): count adjacent symbol pairs corpus-wide → pick the
  * most frequent (deterministic tie-break: count desc, then left/right
  * lexicographic) → apply the merge everywhere → repeat. Driver state
  * per round is ONE (left, right, count) row; pair counting shuffles
  * only the symbol-vocabulary² pair table (map-side combined), never
  * corpus-sized data; merge application is a per-row codegen'd kernel.
  *
  * Merge application semantics — the part engines get wrong: canonical
  * BPE merges leftmost-first non-overlapping, INCLUDING back-to-back
  * matches ("a b a b" → "ab ab") and self-runs ("a a a a" → "aa aa").
  * A single replace() pass breaks both (it consumes the shared
  * delimiter space and skips the adjacent match). The graft_bpe_merge
  * kernel replaces the first occurrence and RESTARTS the scan — because
  * the replacement restores both boundary spaces, restart-scan is
  * exactly canonical greedy merge; the DuckDB oracle's recursive CTE
  * performs the identical first-occurrence/restart step, so the gate
  * covers the application semantics, not just the counts.
  *
  * Scale note: this is the full-recount formulation — T merge rounds =
  * T corpus passes, the right distributed shape for T up to dozens.
  * Production 30k-merge trainers maintain pair-count DELTAS instead of
  * recounting (only words containing the merged pair change counts);
  * that optimization composes with this plan (filter rows on
  * contains(s, pat) before the recount) and is deliberately left out of
  * the gated query to keep the oracle 1:1. */
object Bpe extends QueryGroup {

  private val Rounds = 4
  private val DocCap = 200L

  /** Adjacent-pair counts over space-delimited symbol strings. Words
    * with a single symbol contribute nothing (sequence guard ==
    * DuckDB's empty generate_series). */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(split(trim(col("s")), " ").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r")))).as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(count(lit(1)).as("c"))

  private def pairsCteSql(w: String, name: String): String =
    s"""${name}_p AS (
       |  SELECT pr[1] AS l, pr[2] AS r, count(*) AS c
       |  FROM (SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
       |                 i -> [syms[i], syms[i + 1]])) AS pr
       |        FROM (SELECT string_split(trim(s), ' ') AS syms FROM $w) t0) t
       |  GROUP BY 1, 2),
       |$name AS (SELECT l, r, c FROM ${name}_p ORDER BY c DESC, l, r LIMIT 1)""".stripMargin

  private def applyCteSql(w: String, best: String, out: String): String =
    s"""${out}_i AS (
       |  SELECT wid, s FROM $w
       |  UNION ALL
       |  SELECT wid,
       |    substr(s, 1, pos - 1) || ' ' || b.l || b.r || ' ' ||
       |      substr(s, pos + length(' ' || b.l || ' ' || b.r || ' '))
       |  FROM (SELECT wid, s,
       |          instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)) AS pos
       |        FROM ${out}_i) t CROSS JOIN $best b
       |  WHERE pos > 0),
       |$out AS (
       |  SELECT wid, s FROM ${out}_i
       |  WHERE instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)) = 0)""".stripMargin

  private val oracle: String = {
    val body = (1 to Rounds).map { t =>
      val prev = if (t == 1) "words" else s"w${t - 1}"
      val apply =
        if (t < Rounds) ",\n" + applyCteSql(prev, s"b$t", s"w$t") else ""
      pairsCteSql(prev, s"b$t") + apply
    }.mkString(",\n")
    val out = (1 to Rounds).map { t =>
      s"SELECT CAST($t AS BIGINT) AS round, l AS left, r AS right, " +
        s"l || r AS merged, c AS cnt FROM b$t"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |  words AS (
       |    SELECT row_number() OVER () AS wid,
       |      ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
       |    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |          FROM documents WHERE doc_id < $DocCap) t
       |    WHERE length(w) > 0),
       |$body
       |  $out
       |  ORDER BY round""".stripMargin
  }

  /** Doc-aware twin of [[applyCteSql]] for the encode phase: same
    * first-occurrence/restart recursion with doc_id carried through.
    * The terminal filter coalesces the scalar-subquery instr to 0 so an
    * EMPTY merge table (training exhausted before this round) passes
    * every row through unchanged — NULL = 0 would silently drop the
    * whole corpus instead. */
  private def applyDocCteSql(w: String, best: String, out: String): String =
    s"""${out}_i AS (
       |  SELECT doc_id, wid, s FROM $w
       |  UNION ALL
       |  SELECT doc_id, wid,
       |    substr(s, 1, pos - 1) || ' ' || b.l || b.r || ' ' ||
       |      substr(s, pos + length(' ' || b.l || ' ' || b.r || ' '))
       |  FROM (SELECT doc_id, wid, s,
       |          instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)) AS pos
       |        FROM ${out}_i) t CROSS JOIN $best b
       |  WHERE pos > 0),
       |$out AS (
       |  SELECT doc_id, wid, s FROM ${out}_i
       |  WHERE coalesce(
       |    instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)), 0) = 0)""".stripMargin

  /** Oracle for the end-to-end flow: the training chain (b1..b4 over the
    * capped sample) feeds a doc-aware encode chain over EVERY document,
    * reduced to per-doc word and token counts. */
  private val encodeOracle: String = {
    val trainBody = (1 to Rounds).map { t =>
      val prev = if (t == 1) "words" else s"w${t - 1}"
      val apply =
        if (t < Rounds) ",\n" + applyCteSql(prev, s"b$t", s"w$t") else ""
      pairsCteSql(prev, s"b$t") + apply
    }.mkString(",\n")
    val encodeBody = (1 to Rounds).map { t =>
      val prev = if (t == 1) "ew0" else s"e${t - 1}"
      applyDocCteSql(prev, s"b$t", s"e$t")
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |  words AS (
       |    SELECT row_number() OVER () AS wid,
       |      ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
       |    FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |          FROM documents WHERE doc_id < $DocCap) t
       |    WHERE length(w) > 0),
       |$trainBody,
       |  ew0 AS (
       |    SELECT doc_id, row_number() OVER () AS wid,
       |      ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
       |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |          FROM documents) t
       |    WHERE length(w) > 0),
       |$encodeBody
       |  SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS n_tokens
       |  FROM e$Rounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** End-to-end trained-tokenizer flow — TRAIN on the capped sample,
    * ENCODE the whole corpus with the learned merge table: the
    * composition every training-data pipeline runs (q_vocab_encode
    * encodes with a FIXED vocabulary; this one's vocabulary is LEARNED
    * by q_bpe_train's loop in the same execution). Output is per-doc
    * word and post-merge token counts; the oracle replays the identical
    * training chain and a doc-aware recursive encode over every
    * document, so a drift in ANY learned merge, or in the leftmost-
    * greedy application over any word of the corpus, shifts some doc's
    * token count and hash-mismatches. Scale shape: training as
    * q_bpe_train (vocab²-bounded shuffles, measured flat ×1..×10 at
    * full-corpus cap); encoding is Rounds codegen'd kernel passes over
    * the corpus — a narrow map, no shuffle until the final group-by. */
  private val qBpeEncode = Q(
    "q_bpe_encode",
    (s, dir) => {
      import graft.functions.GraftFunctions.bpeMergeNative
      var words = table(s, dir, "documents").filter(col("doc_id") < DocCap)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))
      val merges = Seq.newBuilder[(String, String)]
      var exhausted = false
      for (round <- 1 to Rounds if !exhausted) {
        val top = pairCounts(words)
          .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r) = (top(0).getString(0), top(0).getString(1))
          merges += ((l, r))
          if (round < Rounds)
            words = words.select(
              bpeMergeNative(col("s"), lit(l), lit(r)).as("s"))
        }
      }
      var enc = table(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))
      merges.result().foreach { case (l, r) =>
        enc = enc.select(col("doc_id"),
          bpeMergeNative(col("s"), lit(l), lit(r)).as("s"))
      }
      enc.select(col("doc_id"),
          size(split(trim(col("s")), " ")).as("toks"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("toks")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some(encodeOracle))

  /** The PRODUCTION-budget trainer (operators/BpeTrainer): 256-merge
    * budget, one distributed word-frequency pass + the in-memory
    * delta-maintained Sennrich loop every real trainer runs. Chain
    * length for the oracle. The gate corpus (a 31-word synthetic
    * lexicon) CLOSES its vocabulary before the budget — every word
    * fully merged — so the gate also proves exhaustion handling at
    * production budgets; [[OracleChainRounds]] is sized past the
    * closure point (DuckDB's expression-depth cap forbids emitting all
    * 256 rounds, and every round past closure is provably empty). */
  private val BigBudget = 256
  private val OracleChainRounds = 96

  /** Freq-weighted twins of the chain generators, over DISTINCT words —
    * identical counts and tie-breaks (a pair's count over instances
    * equals its freq-weighted count over distinct words), tractable at
    * production round counts. MATERIALIZED is load-bearing: without it
    * DuckDB inlines each round's CTEs into every consumer and the chain
    * re-evaluates exponentially. */
  private def pairsCteSqlW(w: String, name: String): String =
    s"""${name}_p AS MATERIALIZED (
       |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(f) AS BIGINT) AS c
       |  FROM (SELECT f, unnest(list_transform(generate_series(1, len(syms) - 1),
       |                 i -> [syms[i], syms[i + 1]])) AS pr
       |        FROM (SELECT f, string_split(trim(s), ' ') AS syms FROM $w) t0) t
       |  GROUP BY 1, 2),
       |$name AS MATERIALIZED (
       |  SELECT l, r, c FROM ${name}_p ORDER BY c DESC, l, r LIMIT 1)""".stripMargin

  private def applyCteSqlW(w: String, best: String, out: String): String =
    s"""${out}_i AS (
       |  SELECT wid, s, f FROM $w
       |  UNION ALL
       |  SELECT wid,
       |    substr(s, 1, pos - 1) || ' ' || b.l || b.r || ' ' ||
       |      substr(s, pos + length(' ' || b.l || ' ' || b.r || ' ')), f
       |  FROM (SELECT wid, s, f,
       |          instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)) AS pos
       |        FROM ${out}_i) t CROSS JOIN $best b
       |  WHERE pos > 0),
       |$out AS MATERIALIZED (
       |  SELECT wid, s, f FROM ${out}_i
       |  WHERE coalesce(
       |    instr(s, (SELECT ' ' || l || ' ' || r || ' ' FROM $best)), 0) = 0)""".stripMargin

  private def wordsCteW: String =
    s"""words AS MATERIALIZED (
       |    SELECT row_number() OVER () AS wid,
       |      ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s, f
       |    FROM (SELECT w, count(*) AS f
       |          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |                FROM documents WHERE doc_id < $DocCap) t0
       |          WHERE length(w) > 0 GROUP BY w) t)""".stripMargin

  private def trainChainW: String =
    (1 to OracleChainRounds).map { t =>
      val prev = if (t == 1) "words" else s"w${t - 1}"
      pairsCteSqlW(prev, s"b$t") + ",\n" + applyCteSqlW(prev, s"b$t", s"w$t")
    }.mkString(",\n")

  private val bigOracle: String = {
    val out = (1 to OracleChainRounds).map { t =>
      s"SELECT CAST($t AS BIGINT) AS round, l AS left, r AS right, " +
        s"l || r AS merged, c AS cnt FROM b$t"
    }.mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |  $wordsCteW,
       |$trainChainW
       |  SELECT round, "left", "right", merged, cnt FROM (
       |  $out)
       |  ORDER BY round""".stripMargin
  }

  private val qBpeTrainBudget = Q(
    "q_bpe_train_budget256",
    (s, dir) => {
      import s.implicits._
      // the ONLY corpus-scale work: distinct-word frequencies (shuffle
      // bounded by the word vocabulary); the merge loop is driver-side
      // over that metadata-sized table — the production trainer split
      val wordFreqs = table(s, dir, "documents")
        .filter(col("doc_id") < DocCap)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.operators.BpeTrainer.train(wordFreqs, budget = BigBudget)
        .map(m => (m.round.toLong, m.left, m.right, m.left + m.right, m.cnt))
        .toDF("round", "left", "right", "merged", "cnt")
        .orderBy("round")
    },
    Some(bigOracle))

  /** Whole-table ENCODE: train at the production budget, then encode the
    * corpus with ONE `graft_bpe_merge_all` kernel call per row — the
    * entire learned merge table applied in a single partition pass
    * instead of one stacked projection per merge (at 32k merges the
    * difference between 1 and 32k codegen stages). The oracle trains the
    * same chain, encodes the DISTINCT words through it (a deliberately
    * different algorithm — words repeat, so per-word token counts join
    * back to doc instances), and aggregates per doc. */
  private val encodeTableOracle: String = {
    // the all-docs DISTINCT words run through their own apply chain
    // (e1..eN using the learned b1..bN) — words repeat, so encoding the
    // vocabulary once and joining token counts back to doc instances is
    // the cheap equivalent of encoding every instance
    val encodeChain = (1 to OracleChainRounds).map { t =>
      val prev = if (t == 1) "ew0" else s"e${t - 1}"
      applyCteSqlW(prev, s"b$t", s"e$t")
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |  $wordsCteW,
       |$trainChainW,
       |  ew0 AS MATERIALIZED (
       |    SELECT row_number() OVER (ORDER BY w) AS wid, w,
       |      ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s,
       |      CAST(1 AS BIGINT) AS f
       |    FROM (SELECT DISTINCT w
       |          FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |                FROM documents) t
       |          WHERE length(w) > 0)),
       |$encodeChain,
       |  uniq AS (
       |    SELECT n.w, len(string_split(trim(e.s), ' ')) AS toks
       |    FROM ew0 n JOIN e$OracleChainRounds e ON n.wid = e.wid),
       |  docw AS (
       |    SELECT doc_id, w
       |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |          FROM documents) t
       |    WHERE length(w) > 0)
       |  SELECT doc_id, count(*) AS n_words,
       |    CAST(sum(toks) AS BIGINT) AS n_tokens
       |  FROM docw JOIN uniq USING (w)
       |  GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val qBpeEncodeTable = Q(
    "q_bpe_encode_table",
    (s, dir) => {
      import graft.functions.GraftFunctions.bpeMergeAllNative
      val wordFreqs = table(s, dir, "documents")
        .filter(col("doc_id") < DocCap)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val merges = graft.operators.BpeTrainer.train(wordFreqs, BigBudget)
      val ls = typedLit(merges.map(_.left))
      val rs = typedLit(merges.map(_.right))
      // the 256-merge encode kernel is ~4 ms/doc; a single-row-group
      // input would run it in ONE scan task (measured 2.0 s serial at
      // sf0.1) — spread first (identity on multi-split inputs)
      graft.core.Graft.spreadIfNarrow(
          table(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))
        .select(col("doc_id"),
          size(split(trim(bpeMergeAllNative(col("s"), ls, rs)), " ")).as("toks"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("toks")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some(encodeTableOracle))

  private val qBpeTrain = Q(
    "q_bpe_train",
    (s, dir) => {
      import graft.functions.GraftFunctions.bpeMergeNative
      var words = table(s, dir, "documents").filter(col("doc_id") < DocCap)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" ")).as("s"))
      val merges = Seq.newBuilder[(Long, String, String, String, Long)]
      var exhausted = false
      for (round <- 1 to Rounds if !exhausted) {
        // global top-1: TakeOrderedAndProject over the vocab²-bounded
        // pair aggregate; the collect is ONE row (driver state = the
        // merge table, the Lloyd-loop discipline). A corpus can run out
        // of adjacent pairs before the round budget (every word fully
        // merged) — real BPE training stops there, and so do we
        // (ScalaCheck found the empty-corpus crash in the naive loop).
        val top = pairCounts(words)
          .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val row = top(0)
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((round.toLong, l, r, l + r, c))
          if (round < Rounds)
            words = words.select(
              bpeMergeNative(col("s"), lit(l), lit(r)).as("s"))
        }
      }
      import s.implicits._
      merges.result().toDF("round", "left", "right", "merged", "cnt")
        .orderBy("round")
    },
    Some(oracle))

  override val queries: Seq[Q] =
    Seq(qBpeTrain, qBpeEncode, qBpeTrainBudget, qBpeEncodeTable)
}
