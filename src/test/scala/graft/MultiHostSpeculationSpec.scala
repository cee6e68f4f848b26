package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.deploy.GraftDeployShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The MULTI-HOST half of the straggler differential — the part
  * SpeculationSpec documents as unreachable under `local-cluster` (every
  * worker there shares one hostname, and TaskSetManager's speculative
  * dequeue refuses to run a copy on a host that already has an attempt).
  * Here a standalone Master runs on 127.0.0.1 and two Workers bind to
  * the loopback ALIASES 127.0.0.2 / 127.0.0.3 (distinct host strings,
  * one machine), so the full speculation race is observable end-to-end:
  *
  *   - the injected straggler is flagged (SpeculativeTaskSubmitted),
  *   - the speculative COPY actually LAUNCHES on the other host
  *     (taskInfo.speculative start event — the assertion local-cluster
  *     can never satisfy),
  *   - the first finisher wins and the loser's kill is NOT a failure,
  *   - the chaotic result is bit-identical to the clean run.
  *
  * This closes reference row #24 ('Delay chaos, ImplWorker.hs:82-96)
  * without the single-host ceiling: detection AND relaunch-race proven.
  */
object MultiHostSpeculationSpec {
  /** Executor-side chaos (object-level vals so the serialized lambdas
    * need only graft classes on the executor classpath, not scalatest).
    * Long stall: the copy must have time to launch AND finish first. */
  val stallMs = 8000L

  val slowPartition0: (Int, Iterator[Int]) => Iterator[Int] = (pid, it) => {
    if (pid == 0 && TaskContext.get().attemptNumber() == 0) Thread.sleep(stallMs)
    it
  }

  val toKeyed: Int => (Int, Long) = i => (i % 7, i.toLong * i)
  val sumLong: (Long, Long) => Long = _ + _
}

class MultiHostSpeculationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var cluster: GraftDeployShims.ClusterHandle = _

  /** Same writable SPARK_HOME stand-in as SpeculationSpec (workers
    * resolve executor jars through it, run-dirs land under work/). */
  private def ensureShimSparkHome(): Unit = {
    import java.nio.file.{Files, LinkOption, Paths}
    val home = Paths.get("/tmp/graft-spark-home")
    Files.createDirectories(home)
    Seq("jars", "bin", "conf").foreach { d =>
      val link = home.resolve(d)
      if (Files.exists(link, LinkOption.NOFOLLOW_LINKS) && !Files.exists(link))
        Files.delete(link)
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, Paths.get("/opt/spark", d))
    }
    Files.createDirectories(home.resolve("work"))
  }

  override def beforeAll(): Unit = {
    ensureShimSparkHome()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val (masterUrl, handle) = GraftDeployShims.startCluster(
      "127.0.0.1", Seq("127.0.0.2", "127.0.0.3"),
      cores = 2, memMb = 1024, workDirRoot = "/tmp/graft-spark-home/work")
    cluster = handle
    val testClasses = Seq("target/scala-2.13/test-classes", "target/scala-2.13/classes")
      .map(p => new java.io.File(p).getAbsolutePath).mkString(":")
    spark = graft.core.Graft.session(masterUrl, 8, Seq(
      "spark.executor.extraClassPath" -> testClasses,
      "spark.executor.memory" -> "512m",
      "spark.executor.cores" -> "2",
      "spark.cores.max" -> "4",
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "50ms",
      "spark.speculation.multiplier" -> "1.2",
      "spark.speculation.quantile" -> "0.25"))
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (cluster != null) cluster.shutdown()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  test("speculative copy launches on the other host and the race is clean") {
    val sc = spark.sparkContext

    def run(chaotic: Boolean): Seq[(Int, Long)] = {
      val base = sc.parallelize(0 until 10000, 8)
      val staged = if (chaotic)
        base.mapPartitionsWithIndex(MultiHostSpeculationSpec.slowPartition0)
      else base
      staged.map(MultiHostSpeculationSpec.toKeyed)
        .reduceByKey(MultiHostSpeculationSpec.sumLong)
        .collect().sortBy(_._1).toSeq
    }

    val clean = run(chaotic = false)

    // registered after the clean run: events attribute to the straggler
    val speculativeSubmitted = new AtomicInteger(0)
    val speculativeStarted = new AtomicInteger(0)
    val genuineFailures = new AtomicInteger(0)
    val speculativeHosts =
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val originalHosts =
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    sc.addSparkListener(new SparkListener {
      override def onSpeculativeTaskSubmitted(
          e: SparkListenerSpeculativeTaskSubmitted): Unit =
        speculativeSubmitted.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.speculative) {
          speculativeStarted.incrementAndGet()
          speculativeHosts.add(e.taskInfo.host): Unit
        } else originalHosts.add(e.taskInfo.host): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.reason match {
          case _: org.apache.spark.TaskKilled => () // the race's loser
          case org.apache.spark.Success => ()
          case _ => genuineFailures.incrementAndGet()
        }
    })

    val chaotic = run(chaotic = true)
    val deadline = System.currentTimeMillis + 15000
    while (speculativeStarted.get() == 0 && System.currentTimeMillis < deadline)
      Thread.sleep(100)

    assert(chaotic == clean, "straggler run diverged from clean run")
    assert(speculativeSubmitted.get() > 0,
      "speculation never flagged the straggler — chaos was vacuous")
    assert(speculativeStarted.get() > 0,
      "speculative copy never launched — distinct-host scheduling broken")
    assert(genuineFailures.get() == 0,
      "the speculation race must not surface as task failure")
    // both workers participated, so the copy really crossed hosts
    assert(originalHosts.size() >= 2 || !speculativeHosts.isEmpty)
  }
}
