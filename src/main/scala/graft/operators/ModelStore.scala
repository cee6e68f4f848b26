package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Store-committed COUNT-BASED text models — the TRAIN ONCE / SCORE MANY
  * lifecycle for the multinomial-Naive-Bayes family, the model-artifact
  * twin of [[AnnIndex]]'s versioned index generations (same protocol as
  * the reference's store-backed-pipeline stance, src/Core/Store.hs:41-119):
  * at 100 TB a classifier is trained once over the corpus, committed, and
  * then scores thousands of batches/streams without ever re-touching the
  * training documents.
  *
  * What makes a count model the PERFECT store artifact is that its
  * sufficient statistics are MERGEABLE: per-(class, word) token counts
  * and per-class totals sum exactly, so
  *   - incremental training ([[appendDelta]]) is lossless by construction —
  *     a model trained on A then extended with B scores bit-identically
  *     to one trained on A ∪ B (the gate proves this, not just a spec);
  *   - scoring merges member tables with ONE model-sized group-by — the
  *     corpus is never re-read.
  *
  * Commit protocol: [[MemberStore]] (shared with [[AnnIndex]] and
  * [[TextIndex]]) — stage the member directory fully, append the
  * manifest LAST, so a crash mid-build leaves an invisible orphan, never
  * a readable half-model. Each manifest names its version's COMPLETE
  * member set (a fit publishes `[gen-N]`; a delta publishes the previous
  * members plus `delta-M`), so older versions stay frozen and `asOf`
  * scoring time-travels exactly. Manifests carry `#format,model,2`: the
  * layout below is the second one (the first kept a separate `classes`
  * table), and a manifest without that line is refused rather than
  * scored with missing class priors.
  *
  * Layout per member (r17): ONE table, `counts` (cls, w, cwc) — the
  * (class, word) token counts plus one MARKER row per (class, document)
  * with `w = NULL` (split never yields null elements, so no real token
  * can collide), whose cwc is the class's doc count. Folding the old
  * separate `classes` table into markers makes staging a SINGLE corpus
  * pass/job; the per-class totals (totc = Σ cwc over real words,
  * ndocs = the marker's cwc) are derived from the merged counts at
  * score time — model-table-sized work. The smoothing scalars
  * (vocabulary size V, training-doc count) are likewise derived at
  * score time, which is what keeps delta merging exact — a stored V
  * would go stale the moment a delta adds unseen words.
  *
  * All scoring arithmetic is the repo's exact-integer bitlen surprisal
  * (see q_classify_nb): both engines — and any member partitioning —
  * produce bit-identical class rankings.
  */
object ModelStore {

  /** Test-only chaos hook: runs after a member directory is fully staged
    * and before its manifest commits — the crash window the manifest-last
    * protocol must make invisible. */
  @volatile var chaosHook: () => Unit = () => ()

  private val store = new MemberStore("model", 2, "model", () => chaosHook())

  /** Latest committed model version, 0 when none. */
  def latestVersion(dir: String): Int = store.latestVersion(dir)

  private def stage(docs: DataFrame, labelCol: String, textCol: String,
      dir: String, member: String): Unit = {
    // ONE corpus pass, ONE job (r17; was three jobs — an isEmpty probe
    // plus two separate tokenize actions, one per member table): every
    // doc's tokens flow through a single (cls, w) aggregation together
    // with one per-doc MARKER row (w = NULL — split never yields null
    // elements, so no real token can collide with it; a NULL text
    // contributes just its marker), written as the member's single
    // `counts` table. Per-class totals are derived at score time (see
    // [[score]]). The empty-batch rejection reads the staged parquet
    // FOOTERS on the driver (zero Spark jobs; every doc yields >=1 row —
    // its marker — so rows > 0 iff docs > 0) and runs BEFORE the
    // manifest commit: an empty staged member is an invisible orphan,
    // removed here, never readable. Tokenization is the gated queries'
    // convention (lowercased, single-space split).
    val tok = docs.select(col(labelCol).as("cls"),
      explode(concat(
        coalesce(split(lower(col(textCol)), " "),
          array().cast("array<string>")),
        array(lit(null).cast("string")))).as("w"))
    tok.groupBy("cls", "w").agg(count(lit(1)).as("cwc"))
      .write.mode("overwrite").parquet(s"$dir/$member/counts")
    if (store.rowCount(docs.sparkSession, dir, member, "counts") == 0L)
      store.reject(dir, member, new IllegalArgumentException(
        s"refusing to stage an EMPTY batch as model member $member at " +
          s"$dir — empty members would break every subsequent score"))
  }

  /** Train on `docs` and commit a NEW model generation (manifest names
    * only it — a retrain, not an extension). Returns the version. */
  def train(docs: DataFrame, labelCol: String, textCol: String,
      dir: String): Int = {
    val staged = store.newStaging(dir)
    stage(docs, labelCol, textCol, dir, staged)
    store.commitGeneration(dir, staged)
  }

  /** Extend the committed model with `docs`' statistics: stages a delta
    * member and commits a manifest naming the previous members PLUS the
    * delta. Lossless by count mergeability — scoring against the result
    * is bit-identical to a one-shot train over the union. The training
    * documents already absorbed into the model are never re-read. */
  def appendDelta(docs: DataFrame, labelCol: String, textCol: String,
      dir: String): Int = {
    store.members(dir) // fail fast: a delta needs a committed model
    val staged = store.newStaging(dir)
    stage(docs, labelCol, textCol, dir, staged)
    // OCC rebase: on a lost race the manifest is recomputed from the
    // winner's member set, so a concurrent delta's statistics are folded
    // in rather than lost (count-mergeability makes any interleaving
    // score-identical to the sequential order)
    store.commitDelta(dir, staged)
  }

  /** COMPACT the committed member set into one generation: merge the
    * member statistics — the SAME (cls, w) / cls group-by sums that
    * [[score]] performs on every read — once at write time, and commit
    * a manifest naming only the merged member. Lossless by count
    * mergeability (the merge is associative, so merging early vs at
    * read time is the same arithmetic); every later score then unions
    * ONE member instead of N. Older versions keep their frozen member
    * sets (`asOf`). Returns the committed version. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    // pin the snapshot: members AT base, so the CAS below can reject a
    // commit that lands between this read and the manifest publish
    val (members, base) = store.snapshot(dir, None)
    val staged = store.newStaging(dir)
    // one merged table, one job: the marker rows (w = NULL) sum like any
    // other (cls, w) group, so the compacted member carries exactly the
    // statistics the member set did
    store.union(spark, dir, members, "counts")
      .groupBy("cls", "w").agg(sum(col("cwc")).as("cwc"))
      .write.mode("overwrite").parquet(s"$dir/$staged/counts")
    store.commitCompaction(dir, staged, base)
  }

  /** Member directories named by the version's manifest (public for
    * specs measuring read amplification). */
  def members(dir: String, asOf: Option[Int] = None): Seq[String] =
    store.members(dir, asOf)

  /** Reclaim history: drop versions below `keepFrom` and delete member
    * directories only they referenced. Returns the deleted names. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    store.vacuum(dir, keepFrom)

  /** Score `test` against the committed model (latest or `asOf`):
    * argmin-bits multinomial NB over the MERGED member statistics.
    * Returns (idCol, pred_cls, total_bits), one row per test document.
    *
    * Plan shape: member counts union + one (cls, w) group-by (shuffle =
    * distinct model keys, never the corpus), smoothing scalars derived
    * from the model tables and broadcast as the K-row class frame, the
    * test token stream joined on the (cls, w) KEY — the model is never
    * broadcast and the TRAINING documents are never scanned (spec-pinned:
    * the score plan's file scans read only the model dir + test input). */
  def score(test: DataFrame, idCol: String, textCol: String, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val spark = test.sparkSession
    val members = store.members(dir, asOf)
    // merged member statistics: real (cls, w) rows feed the token join;
    // per-class totals come from the same merged table (totc = Σ cwc
    // over real words ≡ tokens per class, ndocs = the w-NULL marker's
    // cwc ≡ docs per class; classes with no tokens or a NULL label are
    // dropped, exactly as the old token-side ⋈ doc-side inner join did)
    val cnt0 = store.union(spark, dir, members, "counts")
      .groupBy("cls", "w").agg(sum(col("cwc")).as("cwc"))
    val cnt = cnt0.filter(col("w").isNotNull)
    val clsTab = cnt0.groupBy("cls").agg(
        sum(when(col("w").isNotNull, col("cwc")).otherwise(0L)).as("totc"),
        sum(when(col("w").isNull, col("cwc")).otherwise(0L)).as("ndocs"))
      .filter(col("cls").isNotNull && col("totc") > 0L)
    val classes = clsTab
      .crossJoin(cnt.select("w").distinct().agg(count(lit(1)).as("v")))
      .crossJoin(clsTab.agg(sum(col("ndocs")).as("ntr")))
    val teTok = test.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("w"))
    val scored = teTok.crossJoin(broadcast(classes))
      .join(cnt, Seq("cls", "w"), "left")
      .withColumn("bits",
        (length(bin(col("totc") + col("v"))) -
          length(bin(coalesce(col("cwc"), lit(0L)) + 1))).cast("long"))
    val perClass = scored
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("bits")).as("tok_bits"),
        (max(length(bin(col("ntr")))) - max(length(bin(col("ndocs")))))
          .cast("long").as("prior_bits"))
      .withColumn("total_bits", col("tok_bits") + col("prior_bits"))
    val wr = Window.partitionBy(col(idCol))
      .orderBy(col("total_bits"), col("cls"))
    perClass.withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col(idCol), col("cls").as("pred_cls"), col("total_bits"))
  }
}
