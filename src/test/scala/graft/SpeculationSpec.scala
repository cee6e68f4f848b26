package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerSpeculativeTaskSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Straggler differential — the Spark analog of the reference's 'Delay
  * chaos runner (/root/reference/src/ImplWorker.hs:94-96: a worker that
  * sleeps before completing its task; the job must still finish with the
  * clean result). Spark's slow-worker handling is speculative execution
  * (SURVEY §4.2): the scheduler watches task durations and re-launches a
  * copy of any task running far beyond the finished-task median.
  *
  * Local mode disables the speculation thread outright (TaskSchedulerImpl
  * only starts it when !isLocal), so this suite runs a
  * `local-cluster[2,2,1024]` master: an in-JVM standalone master + 2
  * workers that spawn REAL executor processes — the task closures below
  * are shipped to separate JVMs, which is why they live in a scalatest-free
  * companion object on the executor classpath.
  *
  * Single-host ceiling, measured not assumed: the scheduler refuses to
  * run a speculative copy on a HOST that already has an attempt of the
  * task (TaskSetManager's speculative dequeue), and every local-cluster
  * worker reports the same hostname — so on this machine the copy can
  * never launch. What IS observable end-to-end and asserted here: the
  * straggler is detected and marked (SparkListenerSpeculativeTaskSubmitted
  * fires), no task fails (speculation is not failure — the original's
  * result is still accepted), and the chaotic run is bit-identical to the
  * clean run. The multi-host half — the copy LAUNCHING on another host,
  * first finisher winning, loser killed — is proven by
  * MultiHostSpeculationSpec, which escapes the ceiling by binding two
  * standalone workers to distinct loopback aliases.
  */
object SpeculationSpec {
  /** Executor-side chaos: partition 0's first attempt stalls long enough
    * for the speculation checker (interval 50ms, quantile 0.25) to flag
    * it after the other partitions finish. Defined as object-level vals so
    * the serialized lambdas' capturing class is this plain object — the
    * executor JVMs only need graft classes, not scalatest. */
  val stallMs = 3000L
  val stalls = new AtomicInteger(0) // driver-JVM only; executors have their own

  val slowPartition0: (Int, Iterator[Int]) => Iterator[Int] = (pid, it) => {
    if (pid == 0 && TaskContext.get().attemptNumber() == 0) {
      stalls.incrementAndGet()
      Thread.sleep(stallMs)
    }
    it
  }

  val toKeyed: Int => (Int, Long) = i => (i % 7, i.toLong * i)
  val sumLong: (Long, Long) => Long = _ + _
}

class SpeculationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  /** Writable stand-in for SPARK_HOME (the env var is pointed here by
    * build.sbt): the worker resolves executor jars through it and writes
    * executor run-dirs under `<home>/work`, and /opt/spark must not be
    * written to. */
  private def ensureShimSparkHome(): Unit = {
    val home = Paths.get("/tmp/graft-spark-home")
    Files.createDirectories(home)
    Seq("jars", "bin", "conf").foreach { d =>
      val link = home.resolve(d)
      // NOFOLLOW: a dangling symlink (e.g. /opt/spark relocated between
      // environments) must read as existing so it is recreated, not
      // tripped over with FileAlreadyExistsException
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
    // Suites share one forked JVM; this one needs its own cluster-backed
    // session (same pattern as TaskRetrySpec).
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val testClasses = Seq("target/scala-2.13/test-classes", "target/scala-2.13/classes")
      .map(p => new java.io.File(p).getAbsolutePath).mkString(":")
    spark = graft.core.Graft.session("local-cluster[2,2,1024]", 8, Seq(
      // ship graft classes to the executor processes
      "spark.executor.extraClassPath" -> testClasses,
      "spark.speculation" -> "true",
      "spark.speculation.interval" -> "50ms",
      "spark.speculation.multiplier" -> "1.2",
      "spark.speculation.quantile" -> "0.25"))
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  test("straggling task is detected by speculation; result equals the clean run") {
    val sc = spark.sparkContext

    def run(chaotic: Boolean): Seq[(Int, Long)] = {
      val base = sc.parallelize(0 until 10000, 8)
      val staged = if (chaotic)
        base.mapPartitionsWithIndex(SpeculationSpec.slowPartition0)
      else base
      staged.map(SpeculationSpec.toKeyed)
        .reduceByKey(SpeculationSpec.sumLong)
        .collect().sortBy(_._1).toSeq
    }

    val clean = run(chaotic = false)

    // Listener registered only now, AFTER the clean run: any speculation
    // event it counts is attributable to the injected straggler, not to a
    // spuriously slow clean-run task.
    val speculativeSubmitted = new AtomicInteger(0)
    val speculativeStarted = new AtomicInteger(0)
    val genuineFailures = new AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onSpeculativeTaskSubmitted(
          e: SparkListenerSpeculativeTaskSubmitted): Unit =
        speculativeSubmitted.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.speculative) speculativeStarted.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        // a KILLED end is the normal fate of a speculative race's loser
        // (on a multi-host env where the copy launches) — only genuine
        // failures count against the differential
        e.reason match {
          case _: org.apache.spark.TaskKilled => ()
          case org.apache.spark.Success => ()
          case _ => genuineFailures.incrementAndGet()
        }
    })

    val chaotic = run(chaotic = true)
    // the listener bus is async — poll briefly for the speculation event
    val deadline = System.currentTimeMillis + 10000
    while (speculativeSubmitted.get() == 0 && System.currentTimeMillis < deadline)
      Thread.sleep(100)

    assert(chaotic == clean, "straggler run diverged from clean run")
    assert(speculativeSubmitted.get() > 0,
      "speculation never flagged the straggler — chaos was vacuous")
    assert(genuineFailures.get() == 0,
      "speculation must not surface as task failure")
    // Documented single-host ceiling: the speculative COPY cannot launch
    // while every executor shares the straggler's hostname (TaskSetManager
    // speculative dequeue). A multi-host environment would legitimately
    // flip this to >0 — that is the strictly stronger result, and the
    // assertions above (differential + no genuine failures) already cover
    // it; this one pins today's measured single-host behavior.
    assert(speculativeStarted.get() == 0,
      "speculative copy launched — single-host dequeue ceiling no longer holds")
  }
}
