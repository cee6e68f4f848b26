package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft
import graft.functions.{CharHashExpression, MinHashSigExpression}
import graft.operators.PortableHash
import graft.plans.{AsOfJoin, AsOfJoinExec, AsOfJoinStrategy}

/** `Graft.session` is the engine's one session factory: tests, Bench and
  * Verify share its settings, and every session it returns carries
  * `GraftExtensions` without any per-query registration call. */
class SessionFactorySpec extends AnyFunSuite with SparkSessionFixture {

  /** Run `f` with no active or default session, then restore the shared
    * one — so the factory builds a new session on the running context
    * instead of returning the fixture's. */
  private def withoutSharedSession[T](f: => T): T = {
    val shared = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try f
    finally {
      SparkSession.setDefaultSession(shared); SparkSession.setActiveSession(shared)
    }
  }

  test("the test session carries the SQL settings Bench's session gets") {
    // Bench: Graft.session(s"local[$cpus]", cpus.toInt), SPARK_GRAFT_CPUS=4
    val bench = Graft.settings(4).filter(_._1.startsWith("spark.sql.")).toMap
    // the warehouse dir comes back qualified with its file: scheme
    val test = bench.keys.map(k => k -> spark.conf.get(k).stripPrefix("file:")).toMap
    assert(test == bench)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(spark.conf.get("spark.sql.constraintPropagation.enabled") == "false")
  }

  test("a fresh factory session resolves every extension with no register call") {
    withoutSharedSession {
      val s = Graft.session("local[4]", 4)
      assert(!(s eq spark), "expected a new session, not the shared one")
      val state = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      assert(s.sql("SELECT graft_charhash('hello') AS h").head().getLong(0) ==
        CharHashExpression.hash("hello"))
      Seq("table_changes", "table_history", "table_files").foreach { tf =>
        assert(state.tableFunctionRegistry.functionExists(FunctionIdentifier(tf)), tf)
      }
      assert(state.planner.strategies.exists(_.isInstanceOf[AsOfJoinStrategy]))

      // parquet-backed input: a local relation would constant-fold away
      val path = Files.createTempDirectory("graft_factory").resolve("docs").toString
      s.range(20).selectExpr("id AS doc_id", "concat('doc ', id, ' has some words') AS text")
        .write.parquet(path)
      val docs = s.read.parquet(path)
      def optimizedExprs(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.flatMap(_.expressions)
      // NativizeCharHash
      val h = docs.select(PortableHash.charHash(col("text")).as("h"))
      assert(optimizedExprs(h).exists(_.exists(_.isInstanceOf[CharHashExpression])))
      // NativizeHashKernels
      val sig = docs.select(PortableHash.minhashSig(
        transform(split(lower(col("text")), " "), t => PortableHash.charHash(t)), 16).as("sg"))
      assert(optimizedExprs(sig).exists(_.exists(_.isInstanceOf[MinHashSigExpression])))
      // AsOf strategy plans the whole-operator node
      val ev = docs.select(col("doc_id").as("k"), col("doc_id").as("t"))
      val asof = AsOfJoin.lastBefore(ev, ev, Seq("k"), "t", "t")
      assert(asof.queryExecution.sparkPlan.collectFirst {
        case e: AsOfJoinExec => e }.nonEmpty)
    }
  }

  test("the factory adds the extensions when a plain session already exists") {
    withoutSharedSession {
      val plain = SparkSession.builder().getOrCreate()
      assert(!Graft.hasExtensions(plain))
      val s = Graft.session("local[4]", 4)
      assert(Graft.hasExtensions(s))
      assert(s.sql("SELECT graft_charhash('a') AS h").head().getLong(0) ==
        CharHashExpression.hash("a"))
    }
  }

  /** One entry per occurrence of `pattern` in a `src/main/scala` file,
    * naming the file, sorted. */
  private def mainSourcesMatching(pattern: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { p =>
      pattern.r.findAllIn(Files.readString(p)).map(_ => p.toString)
    }.sorted
  }

  test("src/main/scala has exactly one SparkSession.builder") {
    val hits = mainSourcesMatching("SparkSession\\.builder")
    assert(hits == Seq("src/main/scala/graft/core/Graft.scala"), hits)
  }

  test("src/main/scala adds listeners only in QueryProfile and the app-dir cleanup") {
    val hits = mainSourcesMatching("addSparkListener")
    assert(hits == Seq("src/main/scala/graft/core/Graft.scala",
      "src/main/scala/graft/core/QueryProfile.scala"), hits)
  }

  test("a scoped setting gives back the value the session already had") {
    // the DV-delete gate scopes spark.graft.store.deleteMode to "dv"; a
    // session that chose a mode itself must keep it afterwards
    val key = "spark.graft.store.deleteMode"
    spark.conf.set(key, "cow")
    try {
      SparkEntry.queries("q_sql_store_delete_dv")(spark, "/root/testdata/sf0.001")
        .collect()
      assert(spark.conf.getOption(key).contains("cow"))
    } finally spark.conf.unset(key)
    Graft.withConf(spark, key -> "dv")(assert(spark.conf.get(key) == "dv"))
    assert(spark.conf.getOption(key).isEmpty, "an unset key stays unset")
  }
}
