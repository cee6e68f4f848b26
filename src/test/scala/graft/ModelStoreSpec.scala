package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ModelStore

/** Lifecycle of the Store-committed NB model — the pieces the
  * `q_classify_nb_persisted` / `q_classify_nb_incremental` oracle gates
  * can't see: scoring never re-reads the training documents, crash
  * before the manifest leaves an invisible orphan, delta merging is
  * bit-identical to one-shot training, and asOf pins frozen versions. */
class ModelStoreSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "lang", "text")

  private def freshDir(tag: String): String =
    tempDir(s"${sys.props("java.io.tmpdir")}/graft_model_spec/$tag-${System.nanoTime()}")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
    df.select("doc_id", "pred_cls", "total_bits")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  test("train once, score many: repeat scores agree; the score plan never scans the training docs") {
    val dir = freshDir("once")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    // materialize the test set to its OWN parquet: the corpus file holds
    // the training docs too, so scoring straight off it could mask a
    // training-scan leak from the path assert below
    val testPath = freshDir("once-test")
    docs.filter(col("doc_id") % 5 === 0).write.parquet(testPath)
    val test0 = spark.read.parquet(testPath)
    assert(ModelStore.train(train, "lang", "text", dir) == 1)
    val s1 = ModelStore.score(test0, "doc_id", "text", dir)
    val s2 = ModelStore.score(test0, "doc_id", "text", dir)
    assert(rows(s1) == rows(s2))
    assert(rows(s1).nonEmpty)

    // every file scan in the score plan reads either the model dir or
    // the test input — a scan of the original corpus parquet would mean
    // training leaked into scoring
    s1.collect()
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
    val scanRoots = allNodes(s1.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanRoots.nonEmpty)
    val offending = scanRoots.filterNot(p =>
      p.contains(dir) || p.contains(testPath))
    assert(offending.isEmpty,
      s"score plan scans outside the model dir + test input: $offending")
  }

  test("incremental delta merge is bit-identical to one-shot training") {
    val oneDir = freshDir("oneshot")
    val incDir = freshDir("inc")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test0 = docs.filter(col("doc_id") % 5 === 0)
    ModelStore.train(train, "lang", "text", oneDir)
    ModelStore.train(
      docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2),
      "lang", "text", incDir)
    val v2 = ModelStore.appendDelta(
      docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
      "lang", "text", incDir)
    assert(v2 == 2 && ModelStore.latestVersion(incDir) == 2)
    assert(rows(ModelStore.score(test0, "doc_id", "text", oneDir)) ==
      rows(ModelStore.score(test0, "doc_id", "text", incDir)))
  }

  test("compaction merges members losslessly and freezes history") {
    val dir = freshDir("compact")
    val test0 = docs.filter(col("doc_id") % 5 === 0)
    ModelStore.train(
      docs.filter(col("doc_id") % 5 === 1), "lang", "text", dir)
    ModelStore.appendDelta(
      docs.filter(col("doc_id") % 5 === 2), "lang", "text", dir)
    ModelStore.appendDelta(
      docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
      "lang", "text", dir)
    val before = rows(ModelStore.score(test0, "doc_id", "text", dir))
    assert(ModelStore.members(dir).size == 3)
    val v = ModelStore.compact(spark, dir)
    assert(v == 4)
    assert(ModelStore.members(dir) == Seq("gen-4"))
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) == before)
    // frozen history: the 3-member version still reads its own members
    assert(ModelStore.members(dir, Some(3)).size == 3)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir,
      asOf = Some(3))) == before)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir,
      asOf = Some(1))) != before)
    // crash mid-compaction is invisible (manifest-last)
    ModelStore.chaosHook = () => throw new RuntimeException("chaos")
    try intercept[RuntimeException] { ModelStore.compact(spark, dir) }
    finally ModelStore.chaosHook = () => ()
    assert(ModelStore.latestVersion(dir) == 4)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) == before)
  }

  test("asOf pins the pre-delta version; an unseen-word delta grows V only at the head") {
    val dir = freshDir("asof")
    val half1 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val test0 = docs.filter(col("doc_id") % 5 === 0)
    ModelStore.train(half1, "lang", "text", dir)
    val before = rows(ModelStore.score(test0, "doc_id", "text", dir))
    ModelStore.appendDelta(
      docs.filter(col("doc_id") % 5 === 3 || col("doc_id") % 5 === 4),
      "lang", "text", dir)
    // v1 scoring must be frozen — bit-identical to the pre-delta result
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir,
      asOf = Some(1))) == before)
    // and the merged head must actually differ (the delta's counts and
    // vocabulary moved the surprisals)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) != before)
  }

  test("crash between staging and manifest leaves an invisible orphan") {
    val dir = freshDir("crash")
    val half1 = docs.filter(col("doc_id") % 5 === 1 || col("doc_id") % 5 === 2)
    val test0 = docs.filter(col("doc_id") % 5 === 0)
    ModelStore.train(half1, "lang", "text", dir)
    val before = rows(ModelStore.score(test0, "doc_id", "text", dir))

    ModelStore.chaosHook = () => throw new RuntimeException("chaos: pre-manifest crash")
    try {
      intercept[RuntimeException] {
        ModelStore.appendDelta(
          docs.filter(col("doc_id") % 5 === 3), "lang", "text", dir)
      }
    } finally ModelStore.chaosHook = () => ()

    // the staged-but-uncommitted member exists on disk (under its
    // dot-hidden staging name — never renamed to a committed name)...
    assert(Files.list(Paths.get(dir)).toArray.map(_.toString)
      .exists(_.contains(".staging-")), "chaos fired after staging — dir expected")
    // ...but the committed model is unchanged and scores identically
    assert(ModelStore.latestVersion(dir) == 1)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) == before)

    // a retried append commits cleanly over the orphan
    val v2 = ModelStore.appendDelta(
      docs.filter(col("doc_id") % 5 === 3), "lang", "text", dir)
    assert(v2 == 2)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) != before)
  }

  test("an empty batch is rejected uncommitted (cannot poison the model)") {
    val dir = freshDir("emptybatch")
    ModelStore.train(docs.filter(col("doc_id") % 5 === 1), "lang", "text", dir)
    val test0 = docs.filter(col("doc_id") % 5 === 0)
    val before = rows(ModelStore.score(test0, "doc_id", "text", dir))
    val e = intercept[IllegalArgumentException] {
      ModelStore.appendDelta(docs.filter(lit(false)), "lang", "text", dir)
    }
    assert(e.getMessage.contains("EMPTY batch"))
    assert(ModelStore.latestVersion(dir) == 1)
    assert(rows(ModelStore.score(test0, "doc_id", "text", dir)) == before)
  }

  test("scoring an empty model dir fails fast") {
    val dir = freshDir("empty")
    Files.createDirectories(Paths.get(dir))
    val e = intercept[IllegalArgumentException] {
      ModelStore.score(docs.limit(1), "doc_id", "text", dir).collect()
    }
    assert(e.getMessage.contains("no committed model"))
  }
}
