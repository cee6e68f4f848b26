package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextIndex

/** Lifecycle of the Store-committed inverted index — what the
  * `q_text_bm25_persisted` / `q_text_bm25_incremental` gates can't see:
  * the search scan is pruned to the query terms' buckets, crash before
  * the manifest leaves an invisible orphan, asOf pins frozen versions,
  * and the driver-side bucket hash agrees with the executor-side kernel
  * (a disagreement would silently DROP postings, not just slow down). */
class TextIndexSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text")

  private def freshDir(tag: String): String =
    tempDir(s"${sys.props("java.io.tmpdir")}/graft_textindex_spec/$tag-${System.nanoTime()}")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("build once, search many: stable results off a pruned postings scan") {
    val dir = freshDir("once")
    TextIndex.build(docs, "doc_id", "text", dir)
    val s1 = TextIndex.search(spark, dir, Seq("hash", "join"), topK = 10)
    val s2 = TextIndex.search(spark, dir, Seq("hash", "join"), topK = 10)
    assert(rows(s1) == rows(s2))
    assert(rows(s1).nonEmpty)

    s1.collect()
    // the postings scan must be partition-pruned on tb: rows read from
    // the postings files < the full postings row count
    val total = spark.read.parquet(s"$dir/gen-1/postings").count()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def allNodes(sp: SparkPlan): Seq[SparkPlan] =
      Seq(sp) ++ sp.children.flatMap(allNodes) ++ (sp match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case q: QueryStageExec => allNodes(q.plan)
        case r: ReusedExchangeExec => allNodes(r.child)
        case _ => Seq.empty
      }) ++ sp.subqueries.flatMap(allNodes)
    val scanned = allNodes(s1.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) =>
        s.metrics("numOutputRows").value
    }.sum
    assert(scanned > 0, "no postings scan found in the search plan")
    assert(scanned < total,
      s"search scanned all $total postings rows — bucket pruning ineffective")
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
      s"postings scan is not partition-pruned on tb:\n$plan")
  }

  test("incremental delta merge is bit-identical to one-shot indexing") {
    val oneDir = freshDir("oneshot")
    val incDir = freshDir("inc")
    TextIndex.build(docs, "doc_id", "text", oneDir)
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", incDir)
    val v2 = TextIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", incDir)
    assert(v2 == 2)
    val terms = Seq("hash", "join", "vector")
    assert(rows(TextIndex.search(spark, oneDir, terms, 10)) ==
      rows(TextIndex.search(spark, incDir, terms, 10)))
  }

  test("asOf pins the pre-delta snapshot") {
    val dir = freshDir("asof")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    val terms = Seq("hash", "join")
    val before = rows(TextIndex.search(spark, dir, terms, 10))
    TextIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir)
    assert(rows(TextIndex.search(spark, dir, terms, 10, asOf = Some(1)))
      == before)
    assert(rows(TextIndex.search(spark, dir, terms, 10)) != before)
  }

  test("crash between staging and manifest leaves an invisible orphan") {
    val dir = freshDir("crash")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    val terms = Seq("hash", "join")
    val before = rows(TextIndex.search(spark, dir, terms, 10))
    TextIndex.chaosHook = () => throw new RuntimeException("chaos")
    try intercept[RuntimeException] {
      TextIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
    } finally TextIndex.chaosHook = () => ()
    assert(TextIndex.latestVersion(dir) == 1)
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == before)
    val v2 = TextIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir)
    assert(v2 == 2)
  }

  test("compaction collapses members, changes no result, freezes history") {
    val dir = freshDir("compact")
    TextIndex.build(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir)
    TextIndex.appendDelta(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", dir)
    TextIndex.appendDelta(docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", dir)
    val terms = Seq("hash", "join", "vector")
    val before = rows(TextIndex.search(spark, dir, terms, 10))
    assert(TextIndex.members(dir).size == 3)
    val v = TextIndex.compact(spark, dir)
    assert(v == 4)
    // read amplification rebounded: one member, same scores
    assert(TextIndex.members(dir) == Seq("gen-4"))
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == before)
    // pre-compact versions keep their frozen member sets
    assert(TextIndex.members(dir, Some(3)).size == 3)
    assert(rows(TextIndex.search(spark, dir, terms, 10, asOf = Some(3)))
      == before)
    assert(rows(TextIndex.search(spark, dir, terms, 10, asOf = Some(1)))
      != before)
    // a crash mid-compaction is invisible (manifest-last)
    TextIndex.chaosHook = () => throw new RuntimeException("chaos")
    try intercept[RuntimeException] { TextIndex.compact(spark, dir) }
    finally TextIndex.chaosHook = () => ()
    assert(TextIndex.latestVersion(dir) == 4)
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == before)
  }

  test("vacuum reclaims only unreachable members; retained time travel intact") {
    val dir = freshDir("vacuum")
    TextIndex.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    TextIndex.appendDelta(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir)
    TextIndex.compact(spark, dir) // v3, members [gen-3]
    val terms = Seq("hash", "join", "vector")
    val head = rows(TextIndex.search(spark, dir, terms, 10))
    val v2Rows = rows(TextIndex.search(spark, dir, terms, 10, asOf = Some(2)))

    // keep v2+: v1's manifest drops, but BOTH its members survive —
    // v2 still references them (reference-based retention)
    assert(TextIndex.vacuum(dir, keepFrom = 2).isEmpty)
    assert(rows(TextIndex.search(spark, dir, terms, 10, asOf = Some(2)))
      == v2Rows)
    intercept[Exception] {
      TextIndex.search(spark, dir, terms, 10, asOf = Some(1)).collect()
    }

    // keep the compacted head only: the superseded members are deleted
    val deleted = TextIndex.vacuum(dir, keepFrom = 3)
    assert(deleted.toSet == Set("gen-1", "delta-2"))
    assert(!Files.exists(Paths.get(s"$dir/gen-1")))
    assert(!Files.exists(Paths.get(s"$dir/delta-2")))
    assert(Files.exists(Paths.get(s"$dir/gen-3")))
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == head)
    intercept[Exception] {
      TextIndex.search(spark, dir, terms, 10, asOf = Some(2)).collect()
    }
  }

  test("driver bucket hash agrees with the executor kernel beyond ASCII") {
    import spark.implicits._
    val dir = freshDir("unicode")
    // terms spanning ASCII, Latin-1 supplement, CJK, and an astral-plane
    // codepoint (surrogate pair — where a UTF-16 char fold would diverge
    // from the kernel's codepoint fold)
    val weird = Seq("café", "日本語", "naïve", "x😀y")
    val d = Seq(
      (1L, s"hash ${weird(0)} join"),
      (2L, s"${weird(1)} hash ${weird(2)}"),
      (3L, s"${weird(3)} vector ${weird(0)}")
    ).toDF("doc_id", "text")
    TextIndex.build(d, "doc_id", "text", dir)
    // every weird term must be FOUND through its driver-computed bucket —
    // a hash mismatch would prune away the partition holding it
    weird.foreach { t =>
      val hit = rows(TextIndex.search(spark, dir, Seq(t), 10))
      assert(hit.nonEmpty, s"term '$t' lost to bucket-hash disagreement")
    }
  }

  test("an empty batch is rejected uncommitted (cannot poison the index)") {
    val dir = freshDir("emptybatch")
    TextIndex.build(docs.limit(10), "doc_id", "text", dir)
    val terms = Seq("hash", "join")
    val before = rows(TextIndex.search(spark, dir, terms, 10))
    val e = intercept[IllegalArgumentException] {
      TextIndex.appendDelta(docs.filter(lit(false)), "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("EMPTY batch"))
    // nothing staged, nothing committed, search unaffected
    assert(TextIndex.latestVersion(dir) == 1)
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == before)
  }

  test("searching an empty index dir fails fast") {
    val dir = freshDir("empty")
    Files.createDirectories(Paths.get(dir))
    val e = intercept[IllegalArgumentException] {
      TextIndex.search(spark, dir, Seq("hash"), 10).collect()
    }
    assert(e.getMessage.contains("no committed text index"))
  }
}
