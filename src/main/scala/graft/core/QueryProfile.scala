package graft.core

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.GraftDatasetShim

/** The one place that counts what a body costs in Spark jobs, stages,
  * shuffle and spill. [[measure]] attaches a listener for the body only;
  * before attaching and before reading, it drains the listener bus, so
  * the counts are exactly the events the body caused, with no settle
  * sleep. */
object QueryProfile {

  /** One Spark job of a profiled body: its wall time, the stages it ran
    * (skipped stages, whose shuffle output was reused, are not counted), and
    * its label — `spark.job.description` if set, else the call site that
    * names its result stage. */
  final case class JobProfile(ms: Long, stages: Int, label: String)

  /** What one profiled body cost, in Spark rounds and bytes.
    *
    *   - `wallSeconds`: the body alone, not the listener drains around it.
    *   - `jobs`, `stages`, `tasks`: jobs started, stages and tasks run.
    *   - `jobMs`: the union of the jobs' intervals; `gapMs` is the rest of
    *     the wall time, spent on the driver between jobs (planning, driver
    *     code, scheduling).
    *   - `taskRunMs`: executor run time summed over all tasks.
    *   - shuffle bytes read and written, bytes spilled to disk, and the
    *     largest shuffle write of any one stage. */
  final case class Profile(
      wallSeconds: Double, jobs: Int, stages: Int, tasks: Long,
      jobMs: Long, gapMs: Long, taskRunMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillDiskBytes: Long,
      peakStageShuffleWrite: Long, perJob: Seq[JobProfile]) {

    /** The profile as one JSON object, with snake_case field names. */
    def json: String = {
      def str(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val perJobJson = perJob.map(j =>
        s"""{"ms":${j.ms},"stages":${j.stages},"label":${str(j.label)}}""")
        .mkString("[", ",", "]")
      f"""{"wall_s":$wallSeconds%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""job_ms":$jobMs,"gap_ms":$gapMs,"task_run_ms":$taskRunMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_disk_bytes":$spillDiskBytes,"peak_stage_shuffle_write":$peakStageShuffleWrite,""" +
        s""""per_job":$perJobJson}"""
    }
  }

  /** Upper bound on one listener-bus drain. A bus that has not caught up
    * by then is stuck, not slow. */
  private val DrainTimeoutMs = 60000L

  /** Run `body` and return its result with its [[Profile]]. `query` names
    * the body in the error thrown when a drain times out. */
  def measure[T](spark: SparkSession, query: String)(body: => T): (T, Profile) = {
    val sc = spark.sparkContext
    def drain(when: String): Unit =
      try GraftDatasetShim.drainListenerBus(sc, DrainTimeoutMs)
      catch { case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"listener bus not drained within $DrainTimeoutMs ms $when $query", e)
      }
    drain("before")
    val recorder = new Recorder
    sc.addSparkListener(recorder)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      drain("after")
      (out, recorder.profile(wallNs / 1e9, endMs))
    } finally sc.removeSparkListener(recorder)
  }

  /** Collects the events of one body. Events arrive on the bus thread;
    * the profile is read on the caller's, after a drain. */
  private final class Recorder extends SparkListener {
    private val jobStart = mutable.LinkedHashMap.empty[Int, (Long, String)]
    private val jobEnd = mutable.Map.empty[Int, Long]
    private val stageOwner = mutable.Map.empty[Int, Int]
    private val jobStages = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private var stages = 0
    private var tasks, runMs, read, write, spill, peak = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, label.take(110))
      e.stageIds.foreach(stageOwner.getOrElseUpdate(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stages += 1
      tasks += si.numTasks
      stageOwner.get(si.stageId).foreach(j => jobStages(j) += 1)
      val m = si.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        read += m.shuffleReadMetrics.totalBytesRead
        val w = m.shuffleWriteMetrics.bytesWritten
        write += w
        peak = math.max(peak, w)
        spill += m.diskBytesSpilled
      }
    }

    /** A job still running when the body returned ends at `endMs`. */
    def profile(wallSeconds: Double, endMs: Long): Profile = synchronized {
      val spans = jobStart.toSeq.map { case (id, (t0, _)) =>
        (t0, jobEnd.getOrElse(id, endMs).max(t0))
      }.sortBy(_._1)
      val (jobMs, _) = spans.foldLeft((0L, Long.MinValue)) {
        case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - a.max(reach), b)
      }
      val wallMs = math.round(wallSeconds * 1000)
      val perJob = jobStart.toSeq.map { case (id, (t0, label)) =>
        JobProfile(jobEnd.getOrElse(id, endMs).max(t0) - t0, jobStages(id), label)
      }
      Profile(wallSeconds, jobStart.size, stages, tasks, jobMs,
        (wallMs - jobMs).max(0L), runMs, read, write, spill, peak, perJob)
    }
  }
}
