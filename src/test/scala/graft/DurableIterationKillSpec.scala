package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.deploy.GraftDeployShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** EXECUTOR-LOSS recovery proof for the `Fixpoint.Durable` policy — the
  * named 100 TB residual of the iterative operators: `localCheckpoint`
  * truncates lineage into executor-local blocks, so at 1000 executors a
  * mid-fixpoint executor death (the expected case, not the edge case)
  * kills the whole job. The durable-round variants root every round at a
  * parquet scan instead, making executor loss an ordinary stage retry.
  *
  * Runs on `local-cluster[2,1,1024]` — an in-JVM standalone master with
  * two REAL executor processes — and kills executors with the same
  * master-side path a lost node takes (cached blocks and shuffle files
  * gone, replacement backfilled). Three facts, each load-bearing:
  *
  *   1. the failure mode is REAL: a `localCheckpoint`ed Dataset becomes
  *      permanently unreadable once its executors die;
  *   2. the durable components fixpoint runs through a mid-iteration
  *      executor massacre and still produces the exact fixpoint;
  *   3. so does the durable pagerank, bit-identical to the clean run.
  */
class DurableIterationKillSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  private var spark: SparkSession = _

  private def ensureShimSparkHome(): Unit = {
    val home = Paths.get("/tmp/graft-spark-home")
    Files.createDirectories(home)
    Seq("jars", "bin", "conf").foreach { d =>
      val link = home.resolve(d)
      if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !Files.exists(link))
        Files.delete(link)
      if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get("/opt/spark", d))
    }
    Files.createDirectories(home.resolve("work"))
  }

  override def beforeAll(): Unit = {
    ensureShimSparkHome()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = graft.core.Graft.session("local-cluster[2,1,1024]", 4,
      Seq("spark.executor.memory" -> "512m"))
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  /** Kill every currently-registered executor the way node loss does
    * (replacements are requested, blocks are NOT); returns the killed
    * ids. */
  private def killAllExecutors(): Seq[String] = {
    val sc = spark.sparkContext
    val ids = GraftDeployShims.executorIds(sc)
    ids.foreach(GraftDeployShims.killAndReplaceExecutor(sc, _))
    // wait until the killed ids are actually gone (kill is async); jobs
    // submitted meanwhile queue until a replacement registers
    val deadline = System.currentTimeMillis + 30000
    while (GraftDeployShims.executorIds(sc).exists(ids.contains) &&
        System.currentTimeMillis < deadline)
      Thread.sleep(100)
    ids
  }

  private def awaitExecutors(n: Int): Unit = {
    val deadline = System.currentTimeMillis + 60000
    while (GraftDeployShims.executorIds(spark.sparkContext).size < n &&
        System.currentTimeMillis < deadline)
      Thread.sleep(100)
  }

  test("localCheckpoint state really does die with its executors") {
    val sp = spark; import sp.implicits._
    awaitExecutors(1)
    val ck = (0 until 1000).toDF("x").repartition(8).localCheckpoint()
    assert(ck.count() == 1000, "checkpoint must be readable before the kill")
    killAllExecutors()
    val err = intercept[Exception] { ck.count() }
    // lost localCheckpoint blocks are unrecoverable by design — this is
    // exactly the failure the durable rounds exist to remove
    assert(err.getMessage != null)
    awaitExecutors(1)
    // the session itself recovered (replacement executors) — only the
    // checkpointed state is gone
    assert((0 until 10).toDF("x").count() == 10)
  }

  test("durable components fixpoint survives a mid-iteration executor massacre") {
    val sp = spark; import sp.implicits._
    awaitExecutors(1)
    val removed = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        removed.incrementAndGet(): Unit
    })
    // path graph: one round per diameter unit, so round 2's kill lands
    // strictly mid-fixpoint with real rounds before AND after it
    val verts = (0L until 8L).toDF("id")
    val edges = (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val dir = tempDir(Files.createTempDirectory("graft_kill_cc").toString)
    val (labels, rounds, resumedFrom) =
      graft.operators.ConnectedComponents.componentsRun(
        verts, edges, 30, graft.operators.Fixpoint.Durable(dir,
        chaosHook = r => if (r == 2) { killAllExecutors(); () }))
    assert(resumedFrom == 0 && rounds >= 7,
      s"full fixpoint must run in this single invocation (rounds=$rounds)")
    assert(removed.get() > 0, "chaos was vacuous — no executor was removed")
    val got = labels.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (0L until 8L).map((_, 0L)),
      "post-massacre fixpoint diverged from the exact component labels")
  }

  test("durable pagerank matches its clean run despite executor loss") {
    val sp = spark; import sp.implicits._
    awaitExecutors(1)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
    val clean = graft.queries.Advanced.integerPageRankRun(
      edges, 6, graft.operators.Fixpoint.Durable(
        tempDir(Files.createTempDirectory("graft_kill_pr_clean").toString)))
      ._1.orderBy("node").collect().toSeq
    val (ranks, _, _) = graft.queries.Advanced.integerPageRankRun(
      edges, 6, graft.operators.Fixpoint.Durable(
        tempDir(Files.createTempDirectory("graft_kill_pr").toString),
        chaosHook = r => if (r == 2) { killAllExecutors(); () }))
    assert(ranks.orderBy("node").collect().toSeq == clean,
      "executor loss changed the pagerank fixpoint — durability broken")
  }
}
