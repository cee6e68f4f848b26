package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** The live drip gates run on one harness (`streaming/Drip.scala`).
  * This spec pins what the harness must keep and what it replaced:
  *   - every gate runs the same number of micro-batches as the
  *     hand-copied drop loops did (one per staged or flush drop,
  *     counted at sf0.001 by a [[StreamingQueryListener]]);
  *   - a gate's source dir lies under its application's
  *     `Graft.artifactDir` root, so two JVMs never share it;
  *   - `Streaming.scala` lands no drop and names no temp dir itself.
  */
class DripHarnessSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  /** Micro-batches per gate at sf0.001: its 2 staged drops plus its
    * flush drops (2 for the append and outer-join families), one data
    * batch each, since no-data batches are off in the drip scope.
    * Measured with this listener on the hand-copied drop loops the
    * harness replaced. */
  private val batches: Seq[(String, Int)] = Seq(
    "q_stream_join_outer_live" -> 4,
    "q_stream_join_full_live" -> 4,
    "q_stream_live" -> 2,
    "q_stream_live_append" -> 4,
    "q_stream_session_timers_live" -> 4,
    "q_stream_kv_sink" -> 4,
    "q_stream_ingest" -> 2,
    "q_stream_ingest_neardup" -> 2,
    "q_stream_ingest_neardup_phash" -> 2,
    "q_stream_ann_probe" -> 2,
    "q_stream_classify" -> 2,
    "q_stream_bm25_serve" -> 2,
    "q_stream_text_index_ingest" -> 2,
    "q_stream_classify_train" -> 2,
    "q_stream_ann_ingest" -> 2)

  /** Executed micro-batches and source descriptions per query id. A
    * progress event carries an `addBatch` duration only when a batch
    * ran, so idle-trigger reports are not counted. */
  private final class Progress extends StreamingQueryListener {
    val ran = TrieMap.empty[UUID, Int]
    val sources = TrieMap.empty[UUID, String]
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[UUID]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch"))
        ran.update(p.id, ran.getOrElse(p.id, 0) + 1)
      sources.update(p.id, p.sources.map(_.description).mkString(","))
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      ended.add(e.id): Unit
  }

  /** Run each gate once; its query's batch count and source once the
    * query's termination event (posted after all its progress) lands. */
  private lazy val observed: Map[String, (Int, String)] = {
    val l = new Progress
    spark.streams.addListener(l)
    try batches.map { case (gate, _) =>
      val before = l.ended.size
      SparkEntry.queries(gate)(spark, sf)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (l.ended.size == before && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(l.ended.size == before + 1, s"$gate: no single query terminated")
      val id = l.ended.toArray(Array.empty[UUID]).last
      gate -> (l.ran.getOrElse(id, 0), l.sources.getOrElse(id, ""))
    }.toMap
    finally spark.streams.removeListener(l)
  }

  test("every drip gate runs the micro-batches it ran before the harness") {
    val got = batches.map { case (g, _) => g -> observed(g)._1 }
    assert(got == batches)
  }

  test("every drip gate's source dir lies under its application's stream root") {
    val root = new org.apache.hadoop.fs.Path(
      graft.core.Graft.appDir(spark, "stream")).toUri.getPath
    batches.foreach { case (gate, _) =>
      val source = observed(gate)._2
      assert(source.contains(s"$root/$gate/src"), s"$gate reads $source")
    }
  }

  test("a drip gate run logs no cancelled-job-group WARN; DAGScheduler's others still show") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("dag-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == dag) seen.add(e.getMessage.getFormattedMessage): Unit
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try {
      SparkEntry.queries("q_stream_live")(spark, sf)
      // the scheduler handles the stopped query's cancels before this job
      spark.range(1).count()
      LogManager.getLogger(dag).warn(
        "Failed to cancel job group g-1. Cannot find active jobs for it.")
      LogManager.getLogger(dag).warn("Some other scheduler warning.")
    } finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    val lines = seen.toArray(Array.empty[String]).toSeq
    assert(!lines.exists(_.startsWith("Failed to cancel job group")), lines)
    assert(lines.contains("Some other scheduler warning."), lines)
  }

  test("Streaming.scala lands no drop and names no temp dir; Drip owns the loop") {
    def src(f: String) = Files.readString(Paths.get(s"src/main/scala/graft/$f"))
    val streaming = src("queries/Streaming.scala")
    for (word <- Seq("java.io.tmpdir", "dropAtomic", "withStatePartitions",
        "spark.graft.stream.statePartitions"))
      assert(!streaming.contains(word), s"Streaming.scala names $word")
    // processAllAvailable only in the two store-source gates, which drop
    // no files and interleave store commits with their triggers
    val triggering = streaming.split("\n  private val ").toSeq
      .filter(_.contains("processAllAvailable")).map(_.takeWhile(_ != ' '))
    assert(triggering == Seq("qStreamStoreSource", "qStreamStoreCdf"))
    val drip = src("streaming/Drip.scala")
    assert("processAllAvailable\\(".r.findAllIn(drip).size == 1)
    assert("dropAtomic\\(".r.findAllIn(drip).size == 2) // its definition and the loop
  }
}
