package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import perfbench.Stats.Iv

/** One timed operation: its build phase ends at `buildEnd`, its execute
  * phase runs from there to `end`. Times are epoch milliseconds. */
final case class OpSpan(name: String, start: Double, buildEnd: Double, end: Double) {
  def iv: Iv = Iv(start, end)
  def build: Iv = Iv(start, buildEnd)
  def exec: Iv = Iv(buildEnd, end)
}

/** Records, from outside the program, what each layer did while the
  * benchmark's operations ran: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batch progress), recording only between
  * [[start]] and [[stop]]. Events are kept in memory; [[report]] turns
  * them into per-layer metrics and [[spans]] into a span list, both
  * after the traced passes have ended. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val events = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var recording = false

  private val sparkListener = new SparkListener {
    private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      events.incrementAndGet()
      open.put(e.jobId, (e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
      events.incrementAndGet()
      Option(open.remove(e.jobId)).foreach { case (t0, _) =>
        jobs.add(JobRec(e.jobId, t0.toDouble, e.time.toDouble)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (recording) {
      events.incrementAndGet()
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
      events.incrementAndGet()
      stagesDone.add(e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      events.incrementAndGet()
      val i = e.taskInfo
      val m = e.taskMetrics
      val submitted = Option(stageSubmit.get(e.stageId)).map(_.longValue)
      tasks.add(
        if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime,
          failed = true, retried = i.attemptNumber > 0 || i.speculative)
        else TaskRec(e.stageId, i.launchTime, i.finishTime,
          waitMs = submitted.map(s => math.max(0L, i.launchTime - s)).getOrElse(0L),
          runMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1000000L,
          gcMs = m.jvmGCTime, deserMs = m.executorDeserializeTime,
          shuffleWriteMs = m.shuffleWriteMetrics.writeTime / 1000000L,
          fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          shuffleRecords = m.shuffleWriteMetrics.recordsWritten,
          inputBytes = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead,
          outputBytes = m.outputMetrics.bytesWritten, outputRecords = m.outputMetrics.recordsWritten,
          spillMem = m.memoryBytesSpilled, spillDisk = m.diskBytesSpilled,
          failed = !i.successful, retried = i.attemptNumber > 0 || i.speculative))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (recording) {
      events.incrementAndGet()
      val ps = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ps.get(p).foreach(s => phases.add(PhaseRec(p, s.startTimeMs.toDouble, s.endTimeMs.toDouble)))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
      events.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(BatchRec(p.id.toString, start, start + d("triggerExecution"),
        triggerMs = d("triggerExecution"), offsetMs = d("latestOffset") + d("getBatch"),
        planningMs = d("queryPlanning"), addBatchMs = d("addBatch"),
        commitMs = d("walCommit") + d("commitOffsets"), inputRows = p.numInputRows,
        stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Attach the listeners. They record nothing until [[start]]. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def start(): Unit = recording = true

  /** Stop recording once the listener buses have gone quiet: events are
    * delivered asynchronously, and the last job's may still be queued. */
  def stop(): Unit = {
    var last = -1L
    var quietSince = System.nanoTime()
    while ((System.nanoTime() - quietSince) / 1e9 < 1.0) {
      val now = events.get()
      if (now != last) { last = now; quietSince = System.nanoTime() }
      Thread.sleep(100)
    }
    recording = false
  }

  /** Per-layer metrics over the given operations. Each operation's wall
    * time is split, without overlap, into: time inside Spark jobs (split
    * further by the jobs' task metrics into task compute, shuffle, scan,
    * store and scheduling), Catalyst planning outside jobs, streaming
    * trigger time outside both, and the rest — the build phase's own
    * time (`queries`) or, after the build, the driver gap (`sched`). */
  def report(ops: Seq[OpSpan]): Map[String, Double] = {
    val jobList = jobs.asScala.toVector
    val jobOp = jobList.flatMap(j => ops.find(o => j.start >= o.start && j.start <= o.end).map(j.id -> _)).toMap
    val inOps = jobList.filter(j => jobOp.contains(j.id))
    val taskList = tasks.asScala.toVector.filter(t =>
      Option(stageJob.get(t.stageId)).exists(j => jobOp.contains(j.intValue)))
    val tasksByJob = taskList.groupBy(t => stageJob.get(t.stageId).intValue)
    def within(o: OpSpan)(iv: Iv) = Stats.clip(Seq(iv), o.iv)
    val phaseList = phases.asScala.toVector.filter(p => ops.exists(o => p.start >= o.start && p.start <= o.end))
    val batchList = batches.asScala.toVector.filter(b => ops.exists(o => b.start >= o.start && b.start <= o.end))

    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var driverGap = 0.0
    var buildJobs = 0
    ops.foreach { o =>
      val js = inOps.filter(j => jobOp(j.id) eq o)
      buildJobs += js.count(j => j.start <= o.buildEnd)
      val J = js.flatMap(j => within(o)(j.iv))
      val P = phaseList.filter(p => p.start >= o.start && p.start <= o.end).flatMap(p => within(o)(p.iv))
      val T = batchList.filter(b => b.start >= o.start && b.start <= o.end).flatMap(b => within(o)(b.iv))
      // jobs: split each job's wall by its tasks, then scale so that
      // concurrent jobs together count the time they cover once
      val parts = js.map(j => jobParts(j, tasksByJob.getOrElse(j.id, Vector.empty)))
      val partsTotal = parts.map(_.values.sum).sum
      val scale = if (partsTotal > 0) Stats.covered(J) / partsTotal else 0.0
      parts.foreach(_.foreach { case (layer, ms) => self(layer) += ms * scale })
      self("plans") += Stats.covered(Stats.minus(P, J))
      self("streaming") += Stats.covered(Stats.minus(T, J ++ P))
      self("queries") += Stats.covered(Stats.minus(Seq(o.build), J ++ P ++ T))
      val gap = Stats.covered(Stats.minus(Seq(o.exec), J ++ P ++ T))
      driverGap += gap
      self("sched") += gap
    }
    val wall = ops.map(_.iv.length).sum

    def sumT(f: TaskRec => Long): Double = taskList.map(f).sum.toDouble
    def sumP(name: String): Double = phaseList.filter(_.phase == name).map(_.iv.length).sum
    def sumB(f: BatchRec => Long): Double = batchList.map(f).sum.toDouble
    val storeJobs = inOps.filter(j => tasksByJob.getOrElse(j.id, Vector.empty).exists(_.outputBytes > 0))
    val stagesInOps = stagesDone.asScala.count(s =>
      Option(stageJob.get(s)).exists(j => jobOp.contains(j.intValue)))

    val counts = Map(
      "queries.build_ms" -> self("queries"),
      "queries.build_jobs" -> buildJobs.toDouble,
      "plans.analysis_ms" -> sumP("analysis"),
      "plans.optimization_ms" -> sumP("optimization"),
      "plans.planning_ms" -> sumP("planning"),
      "sched.jobs" -> inOps.size.toDouble,
      "sched.stages" -> stagesInOps.toDouble,
      "sched.tasks" -> taskList.size.toDouble,
      "sched.job_busy_ms" -> Stats.covered(inOps.flatMap(j => within(jobOp(j.id))(j.iv))),
      "sched.driver_gap_ms" -> driverGap,
      "sched.task_wait_ms" -> sumT(_.waitMs),
      "task.run_ms" -> sumT(_.runMs),
      "task.cpu_ms" -> sumT(_.cpuMs),
      "task.gc_ms" -> sumT(_.gcMs),
      "task.deser_ms" -> sumT(_.deserMs),
      "task.failed" -> taskList.count(_.failed).toDouble,
      "task.retried" -> taskList.count(_.retried).toDouble,
      "shuffle.write_bytes" -> sumT(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sumT(_.shuffleReadBytes),
      "shuffle.records_written" -> sumT(_.shuffleRecords),
      "shuffle.write_ms" -> sumT(_.shuffleWriteMs),
      "shuffle.fetch_wait_ms" -> sumT(_.fetchWaitMs),
      "spill.mem_bytes" -> sumT(_.spillMem),
      "spill.disk_bytes" -> sumT(_.spillDisk),
      "scan.bytes_read" -> sumT(_.inputBytes),
      "scan.records_read" -> sumT(_.inputRecords),
      "store.bytes_written" -> sumT(_.outputBytes),
      "store.records_written" -> sumT(_.outputRecords),
      "store.write_job_ms" -> Stats.covered(storeJobs.flatMap(j => within(jobOp(j.id))(j.iv))),
      "stream.batches" -> batchList.size.toDouble,
      "stream.trigger_ms" -> sumB(_.triggerMs),
      "stream.offset_ms" -> sumB(_.offsetMs),
      "stream.planning_ms" -> sumB(_.planningMs),
      "stream.add_batch_ms" -> sumB(_.addBatchMs),
      "stream.commit_ms" -> sumB(_.commitMs),
      "stream.input_rows" -> sumB(_.inputRows),
      "stream.state_bytes" -> batchList.groupBy(_.query).values.map(_.map(_.stateBytes).max).sum.toDouble,
    )
    val shares = Layers.map(l => s"self.${l}_ms" -> self(l)) ++
      Layers.map(l => s"share.$l" -> (if (wall > 0) self(l) / wall else 0.0))
    counts ++ shares
  }

  /** One job's wall time by layer. The time at least one of its tasks
    * was running is the busy part; the rest of the job's wall — waiting
    * for stages to be scheduled, stage barriers, driver work between
    * stages — is scheduling. The busy part is split in proportion to the
    * tasks' run time: shuffle (write time + fetch wait), then store if a
    * task wrote output files, scan if it only read input (no shuffle on
    * either side), and task compute otherwise. */
  private def jobParts(j: JobRec, ts: Seq[TaskRec]): Map[String, Double] = {
    val busy = Stats.covered(Stats.clip(ts.map(t => Iv(t.launch.toDouble, t.finish.toDouble)), j.iv))
    val run = ts.map(_.runMs).sum.toDouble
    val f = if (run > 0) busy / run else 0.0
    val acc = scala.collection.mutable.Map("sched" -> (j.iv.length - (if (run > 0) busy else 0.0)))
      .withDefaultValue(0.0)
    ts.foreach { t =>
      val sh = math.min(t.runMs.toDouble, (t.shuffleWriteMs + t.fetchWaitMs).toDouble)
      val rest = t.runMs - sh
      acc("shuffle") += sh * f
      val layer =
        if (t.outputBytes > 0) "store"
        else if (t.inputBytes > 0 && t.shuffleReadBytes == 0 && t.shuffleWriteBytes == 0) "scan"
        else "task"
      acc(layer) += rest * f
    }
    acc.toMap
  }

  /** Every recorded span, for the run's trace file: operations, their
    * build and execute phases, jobs, planning phases and stream batches.
    * A span's parent is the span that contains it; all spans of one
    * operation carry the id of that operation's span as `op`. */
  def spans(ops: Seq[OpSpan]): Seq[Map[String, Any]] = {
    var next = 0L
    def id(): Long = { next += 1; next }
    ops.flatMap { o =>
      val opId = id(); val bId = id(); val eId = id()
      def parent(t: Double): Long = if (t <= o.buildEnd) bId else eId
      def span(sid: Long, par: Long, layer: String, name: String, iv: Iv): Map[String, Any] =
        Map("id" -> sid, "parent" -> par, "op" -> opId, "layer" -> layer, "name" -> name,
          "start_ms" -> iv.start, "end_ms" -> iv.end)
      val inOp = (t: Double) => t >= o.start && t <= o.end
      Seq(span(opId, 0L, "op", o.name, o.iv), span(bId, opId, "queries", "build", o.build),
        span(eId, opId, "exec", "execute", o.exec)) ++
        jobs.asScala.filter(j => inOp(j.start)).map(j =>
          span(id(), parent(j.start), "sched", s"job ${j.id}", j.iv)) ++
        phases.asScala.filter(p => inOp(p.start)).map(p =>
          span(id(), parent(p.start), "plans", p.phase, p.iv)) ++
        batches.asScala.filter(b => inOp(b.start)).map(b =>
          span(id(), parent(b.start), "streaming", "batch", b.iv))
    }
  }
}

object Tracer {
  /** The layers an operation's wall time is split across. */
  val Layers: Seq[String] =
    Seq("queries", "plans", "sched", "task", "shuffle", "scan", "store", "streaming")

  final case class JobRec(id: Int, start: Double, end: Double) { def iv: Iv = Iv(start, end) }
  final case class PhaseRec(phase: String, start: Double, end: Double) { def iv: Iv = Iv(start, end) }
  final case class BatchRec(query: String, start: Double, end: Double, triggerMs: Long,
      offsetMs: Long, planningMs: Long, addBatchMs: Long, commitMs: Long,
      inputRows: Long, stateBytes: Long) { def iv: Iv = Iv(start, end) }
  final case class TaskRec(stageId: Int, launch: Long, finish: Long, waitMs: Long = 0, runMs: Long = 0,
      cpuMs: Long = 0, gcMs: Long = 0, deserMs: Long = 0, shuffleWriteMs: Long = 0,
      fetchWaitMs: Long = 0, shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleRecords: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
      outputBytes: Long = 0, outputRecords: Long = 0, spillMem: Long = 0, spillDisk: Long = 0,
      failed: Boolean, retried: Boolean)
}
