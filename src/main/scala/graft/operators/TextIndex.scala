package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-committed INVERTED TEXT INDEX — build once / search many for
  * lexical (BM25) retrieval, completing the persisted-artifact triple
  * next to [[AnnIndex]] (vectors) and [[ModelStore]] (models): at 100 TB
  * a text corpus is indexed once and then served to thousands of term
  * queries, none of which may re-tokenize the corpus.
  *
  * Layout per member, committed through [[MemberStore]] (the
  * manifest-last protocol its siblings share — a crash while staging
  * leaves an invisible orphan; manifests carry `#format,text,1`):
  *   - `postings/` — (term, doc_id, tf, dl), PARTITIONED BY `tb` (the
  *     term's portable-hash bucket, [[PortableHash.charHashLocal]] % 64):
  *     a search computes its query terms' buckets ON THE DRIVER and
  *     prunes the scan to those partitions at file listing — the
  *     search-time read is O(matching postings), never the corpus.
  *     Document length `dl` is DENORMALIZED onto every posting (the
  *     [[AnnIndex]] codes-in-lists discipline) so BM25 scoring needs no
  *     corpus-sized side join.
  *   - `meta.json` — {ndocs, ttokens}, the corpus-level BM25 constants.
  *
  * Incremental maintenance: [[appendDelta]] stages a new member holding
  * ONLY the delta's postings + its own meta; the manifest names the
  * previous members plus the delta. Search merges members by plain
  * union: each document's postings live in exactly one member (the
  * delta contract: doc-disjoint batches, the IncrementalIngest
  * discipline), so per-term document frequency is a row count over the
  * union and the corpus constants are sums of member metas — search
  * results are bit-identical to a one-shot rebuild (the gate proves it).
  *
  * All BM25 arithmetic is the gated q_text_bm25 integer formulation
  * (k1=1.2, b=0.75 scaled to exact integer div) — engine-portable,
  * partition-count-independent.
  */
object TextIndex {

  /** Term-hash partition buckets per member. */
  val Buckets = 64

  /** How long staging waits for the write's observed metrics. */
  private val ObservedMetricsWait = 2.minutes

  /** Test-only chaos hook: runs after staging, before the manifest. */
  @volatile var chaosHook: () => Unit = () => ()

  private val store =
    new MemberStore("text", 1, "text index", () => chaosHook())

  def latestVersion(dir: String): Int = store.latestVersion(dir)

  private def stage(docs: DataFrame, idCol: String, textCol: String,
      dir: String, member: String): Unit = {
    val spark = docs.sparkSession
    // ONE corpus pass (r17; r16 had two — a stats aggregation plus the
    // postings write, each tokenizing the full batch):
    //   - the corpus-level BM25 constants ride the postings write itself
    //     as OBSERVED metrics (CollectMetrics — accumulator semantics,
    //     counted once per successful task, so retries cannot skew it);
    //     per-doc token count size(filter(split…)) equals the dl the
    //     postings carry (zero-token docs contribute 0, exactly as their
    //     absence from dl did);
    //   - dl is a doc_id-partitioned window sum over the (doc, term) tf
    //     aggregate — the same Σtf per doc the old second tokenize +
    //     group-by + join produced, minus the second corpus scan.
    // The empty-batch rejection moved AFTER the write (the r16
    // AnnIndex.appendDelta discipline): a staged member is invisible to
    // readers until its manifest commits, so rejecting post-write is
    // equally safe — the empty orphan is removed and nothing commits.
    val obs = new org.apache.spark.sql.Observation()
    val observed = docs.observe(obs,
      count(lit(1)).as("ndocs"),
      coalesce(sum(size(filter(split(lower(col(textCol)), " "),
        t => t =!= ""))), lit(0L)).as("ttokens"))
    val tok = observed.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(wDoc))
      .withColumn("tb",
        pmod(graft.functions.GraftFunctions.charHashNative(col("term")),
          lit(Buckets.toLong)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/$member/postings")
    // an all-empty batch can plan to ZERO tasks, in which case the
    // CollectMetrics accumulator never fires and the metrics map comes
    // back empty — which is itself the empty-batch signal. The metrics
    // arrive through the listener bus; a report that never comes fails
    // the stage instead of blocking it forever.
    try Await.ready(obs.future, ObservedMetricsWait)
    catch {
      case _: TimeoutException =>
        store.reject(dir, member, new IllegalStateException(
          s"no observed metrics for text-index member $member at $dir " +
            s"within $ObservedMetricsWait; the member was not staged"))
    }
    val st = obs.get
    val ndocs = st.get("ndocs").map(_.asInstanceOf[Long]).getOrElse(0L)
    val ttokens = st.get("ttokens").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (ndocs == 0L)
      store.reject(dir, member, new IllegalArgumentException(
        s"refusing to stage an EMPTY batch as text-index member $member " +
          s"at $dir — empty members would break every subsequent search"))
    store.writeMeta(dir, member, "ndocs" -> ndocs, "ttokens" -> ttokens)
  }

  /** Index `docs` and commit a NEW generation (a full rebuild).
    * Returns the committed version. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Int = {
    val staged = store.newStaging(dir)
    stage(docs, idCol, textCol, dir, staged)
    store.commitGeneration(dir, staged)
  }

  /** Extend the committed index with `docs` (doc-disjoint from every
    * absorbed batch — the ingest contract that makes member-union df
    * exact). Absorbed documents are never re-tokenized. A concurrent
    * committer is handled by OCC rebase: the manifest is recomputed
    * from the WINNER's member set, so a racing delta's member is folded
    * in rather than lost (doc-disjointness across writers is the same
    * ingest contract as across batches). */
  def appendDelta(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Int = {
    store.members(dir) // fail fast: a delta needs a committed index
    val staged = store.newStaging(dir)
    stage(docs, idCol, textCol, dir, staged)
    store.commitDelta(dir, staged)
  }

  /** COMPACT the committed member set into one generation. Incremental
    * maintenance trades write cost for read amplification: every
    * [[appendDelta]] adds a member, and a search pays per-member file
    * listings + parquet footers + a wider union. Compaction rewrites the
    * union of all member postings as a single generation (same `tb`
    * partitioning, so bucket pruning is unchanged) with summed corpus
    * meta, and commits a manifest naming only it. Lossless by the same
    * law that makes delta search exact: members are doc-disjoint, so
    * the union IS the index — rewriting it in one member changes which
    * files hold the rows, never the rows. Older versions keep reading
    * their own frozen member sets ([[search]] `asOf`); the superseded
    * member directories stay on disk for them. Returns the version. */
  def compact(spark: SparkSession, dir: String): Int = {
    // pin the snapshot: members AT base, so the CAS commit can reject a
    // commit that lands between this read and the manifest publish
    val (members, base) = store.snapshot(dir, None)
    val staged = store.newStaging(dir)
    val (nDocs, tTokens) = corpusConstants(dir, members)
    store.union(spark, dir, members, "postings")
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/$staged/postings")
    store.writeMeta(dir, staged, "ndocs" -> nDocs, "ttokens" -> tTokens)
    store.commitCompaction(dir, staged, base)
  }

  /** Member directories named by the version's manifest (public for
    * specs measuring read amplification). */
  def members(dir: String, asOf: Option[Int] = None): Seq[String] =
    store.members(dir, asOf)

  /** Reclaim history: drop versions below `keepFrom` and delete member
    * directories only they referenced (typically the pre-compaction
    * members). Time travel within [keepFrom, latest] is untouched.
    * Returns the deleted member names. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    store.vacuum(dir, keepFrom)

  /** Corpus-level BM25 constants (ndocs, ttokens): member meta sums. */
  private def corpusConstants(dir: String, members: Seq[String]): (Long, Long) =
    members.map { m =>
      val meta = store.readMeta(dir, m)
      (meta("ndocs").toLong, meta("ttokens").toLong)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** BM25 top-k over the committed index (latest or `asOf`): returns
    * (doc_id, score) for the `terms` disjunction, score = the exact
    * integer q_text_bm25 formula summed over matched terms.
    *
    * Plan shape: query-term buckets computed on the DRIVER prune the
    * postings scan at file listing (spec-measured); document frequency
    * comes from the fetched postings themselves (a term's posting rows
    * all live in its bucket); corpus constants are member-meta sums —
    * the search never aggregates, joins, or even lists the corpus. */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      topK: Int, asOf: Option[Int] = None): DataFrame = {
    require(terms.nonEmpty, "text index search needs at least one term")
    val members = store.members(dir, asOf)
    val (nDocs, tTokens) = corpusConstants(dir, members)
    val buckets = terms.map(t =>
      java.lang.Math.floorMod(PortableHash.charHashLocal(t), Buckets.toLong))
      .distinct
    val post = store.union(spark, dir, members, "postings")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val dfT = post.groupBy("term").agg(count(lit(1)).as("df"))
    post.join(broadcast(dfT), "term")
      .withColumn("s", expr(
        s"""((($nDocs - df + 1) * 100000) div (df + 1)) *
            ((tf * 22 * $tTokens * 10000) div
             (10 * $tTokens * tf + 3 * $tTokens + 9 * dl * $nDocs))"""))
      .groupBy("doc_id").agg(sum(col("s")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }
}
