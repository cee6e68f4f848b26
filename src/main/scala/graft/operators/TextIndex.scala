package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.KvCommitLog

/** Store-committed INVERTED TEXT INDEX — build once / search many for
  * lexical (BM25) retrieval, completing the persisted-artifact triple
  * next to [[AnnIndex]] (vectors) and [[ModelStore]] (models): at 100 TB
  * a text corpus is indexed once and then served to thousands of term
  * queries, none of which may re-tokenize the corpus.
  *
  * Layout per member (same manifest-last commit protocol as its
  * siblings — a crash while staging leaves an invisible orphan):
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

  private def genName(v: Int) = s"gen-$v"
  private def deltaName(v: Int) = s"delta-$v"

  def latestVersion(dir: String): Int =
    KvCommitLog.latestVersion(Paths.get(dir))

  /** Test-only chaos hook: runs after staging, before the manifest. */
  @volatile var chaosHook: () => Unit = () => ()

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
    // back empty — which is itself the empty-batch signal
    val st = obs.get
    val ndocs = st.get("ndocs").map(_.asInstanceOf[Long]).getOrElse(0L)
    val ttokens = st.get("ttokens").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (ndocs == 0L) {
      rmTreeLocal(Paths.get(s"$dir/$member"))
      throw new IllegalArgumentException(
        s"refusing to stage an EMPTY batch as text-index member $member " +
          s"at $dir — empty members would break every subsequent search")
    }
    Files.writeString(Paths.get(s"$dir/$member/meta.json"),
      s"""{"ndocs":$ndocs,"ttokens":$ttokens}""")
  }

  private def rmTreeLocal(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => rmTreeLocal(c)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  /** Unique dot-hidden staging name: invisible to [[membersAt]] (only
    * manifests name members) and collision-free across concurrent
    * writers, so no two stores ever write into the same directory. */
  private def stagingName(): String =
    s".staging-${System.nanoTime}-${Thread.currentThread.getId}"

  /** Index `docs` and commit a NEW generation (a full rebuild).
    * Returns the committed version. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String): Int = {
    val base = Paths.get(dir)
    Files.createDirectories(base)
    val staged = stagingName()
    stage(docs, idCol, textCol, dir, staged)
    chaosHook()
    KvCommitLog.commitMember(base, staged, genName,
      (_, name) => Seq(name))
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
    membersAt(dir, None) // fail fast: a delta needs a committed index
    val base = Paths.get(dir)
    val staged = stagingName()
    stage(docs, idCol, textCol, dir, staged)
    chaosHook()
    KvCommitLog.commitMember(base, staged, deltaName,
      (_, name) => membersAt(dir, None) :+ name)
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
    // pin the snapshot: members AT base, so the CAS below can reject a
    // commit that lands between this read and the manifest publish
    val base0 = latestVersion(dir)
    val members = membersAt(dir, Some(base0))
    val staged = stagingName()
    val (nDocs, tTokens) = members.map(metaOf(dir, _))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    members.map(m => graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$m/postings"))
      .reduce(_ unionAll _)
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$dir/$staged/postings")
    Files.writeString(Paths.get(s"$dir/$staged/meta.json"),
      s"""{"ndocs":$nDocs,"ttokens":$tTokens}""")
    chaosHook()
    // CAS at base0+1: the rewritten generation was derived from the
    // version-base0 snapshot — any concurrent commit supersedes it, so
    // the compaction must abort (and rerun), never publish over it
    KvCommitLog.commitMember(Paths.get(dir), staged, genName,
      (_, name) => Seq(name), expectedBase = Some(base0))
  }

  /** Member directories named by the version's manifest (public for
    * specs measuring read amplification). */
  def members(dir: String, asOf: Option[Int] = None): Seq[String] =
    membersAt(dir, asOf)

  /** Reclaim history: drop versions below `keepFrom` and delete member
    * directories only they referenced (typically the pre-compaction
    * members). Time travel within [keepFrom, latest] is untouched.
    * Returns the deleted member names. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    KvCommitLog.vacuum(Paths.get(dir), keepFrom)

  private def membersAt(dir: String, asOf: Option[Int]): Seq[String] = {
    val vs = KvCommitLog.versions(Paths.get(dir))
    require(vs.nonEmpty, s"no committed text index at $dir " +
      "(an uncommitted member directory is not an index)")
    val latest = vs.last._1
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"text index version $v out of committed range [1, $latest] at $dir")
    val manifest = vs.find(_._1 == v).getOrElse(
      throw new IllegalStateException(s"text index manifest $v missing at $dir"))._2
    val entries = Files.readAllLines(manifest)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
    require(entries.nonEmpty, s"text index manifest $v at $dir is empty")
    entries
  }

  private def metaOf(dir: String, member: String): (Long, Long) = {
    val s = Files.readString(Paths.get(s"$dir/$member/meta.json"))
    def f(n: String): Long = (s"""\"$n\":(\\d+)""").r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(
        throw new IllegalStateException(s"text index meta missing '$n': $s"))
    (f("ndocs"), f("ttokens"))
  }

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
    val members = membersAt(dir, asOf)
    val (nDocs, tTokens) = members.map(metaOf(dir, _))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val buckets = terms.map(t =>
      java.lang.Math.floorMod(PortableHash.charHashLocal(t), Buckets.toLong))
      .distinct
    val post = members.map(m => graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$m/postings"))
      .reduce(_ unionAll _)
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
