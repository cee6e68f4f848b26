package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.Graft

/** What one operation produced: whether its output passed the check,
  * how many records it accounts for, and why it failed if it did. */
final case class Outcome(ok: Boolean, records: Long, note: String = "")

/** One operation of a workload. `build` runs the program's own code that
  * constructs the work (for a registry query, `Q.run`) and returns the
  * step that executes and checks it. */
trait Op {
  def name: String
  def build(): () => Outcome
}

/** A registry query, materialized with a `noop` write as `graft.Bench`
  * does, with its result digest observed in the same job and compared
  * with the golden digest recorded for it. */
final class RegistryOp(val name: String, spark: SparkSession, dataDir: String,
    golden: Option[Digest]) extends Op {
  def build(): () => Outcome = {
    val run = SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"$name is not in the registry"))
    val df = run(spark, dataDir)
    () => {
      val (observed, obs) = Digest.observed(df)
      observed.write.format("noop").mode("overwrite").save()
      val d = Digest.await(obs)
      golden match {
        case Some(g) if g == d => Outcome(ok = true, d.rows)
        case Some(g) => Outcome(ok = false, d.rows, s"digest $d, golden $g")
        case None => Outcome(ok = false, d.rows, s"digest $d, no golden")
      }
    }
  }
}

/** One pipeline shape over the whole generated input, collected and
  * compared with the plain-Scala fold of the input. */
final class PipelineOp(val name: String, spark: SparkSession,
    input: Dataset[(String, String)], records: Long, expected: Seq[(String, Int)]) extends Op {
  def build(): () => Outcome = {
    val out = MrInput.pipeline(spark, name)(input)
    () => {
      val got = out.collect().toSeq.sorted
      if (got == expected) Outcome(ok = true, records)
      else Outcome(ok = false, records,
        s"${got.size} rows differ from the fold's ${expected.size}")
    }
  }
}

object Main {

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Sample(op: String, ms: Double, outcome: Outcome, span: OpSpan)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val cores = a("cores").toInt
    val bench = new File(a("bench")).getAbsoluteFile
    val out = a("out")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val s0 = nowMs
    val spark = Graft.session(s"local[$cores]", cores)
    val sessionMs = nowMs - s0
    val canaryStart = canary(spark)
    log(f"session up, canary ${canaryStart}%.1f ms at ${(nowMs - jvmStart) / 1000}%.1f s")

    val dataDir = new File(bench, "data/sf0.01").getPath
    val setupFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val ops: Seq[Op] = workload match {
      case "mr_pipeline" =>
        val n = MrRecords
        val in = MrInput.generate(seed, n)
        log(f"generated $n records (${in.keyCount} keys, skew ${in.keySkew}%.3f, " +
          f"${in.alphabet} characters, run stop ${in.runStop}%.3f) at ${(nowMs - jvmStart) / 1000}%.1f s")
        setupFailures ++= prefixCheck(spark, in.prefix(PrefixRecords))
        log(f"prefix checked at ${(nowMs - jvmStart) / 1000}%.1f s")
        val path = new File(sys.props("java.io.tmpdir"), "mr_input").getPath
        import spark.implicits._
        spark.createDataset(in.records).repartition(cores).write.parquet(path)
        val ds = spark.read.parquet(path).as[(String, String)]
        MrInput.shapes.map(s => new PipelineOp(s, spark, ds, n.toLong, in.expected(s)))
      case "query_mix" | "ingest" =>
        val golden = readGolden(new File(bench, "golden.json"))
        readOps(new File(bench, s"ops/$workload.txt"))
          .map(n => new RegistryOp(n, spark, dataDir, golden.get(n)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log(f"workload set up: ${ops.size} operations, ${(nowMs - jvmStart) / 1000}%.1f s since JVM start")
    val rng = new Random(seed)
    // warmup: untimed passes, so codegen, the JIT and the program's own
    // per-JVM caches are filled before timing
    (1 to WarmPasses(workload)).foreach(_ => runPass(rng.shuffle(ops)))
    val setupS = (nowMs - jvmStart) / 1000
    log(f"warmup done: setup_s $setupS%.2f (session ${sessionMs / 1000}%.2f s)")

    // Timed passes: whole passes, as many as fit in `seconds` to the
    // nearest pass, counted once from the first pass's length so that a
    // run's pass count does not flip with the warming of later passes; at
    // least one. A traced run makes at least four, in U T T U order
    // (untraced, traced), so that JIT and cache warming during the run
    // bias neither side; the tracing overhead is the traced passes'
    // median over the untraced ones'.
    val tmpDir = new File(sys.props("java.io.tmpdir"))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    heapPools.foreach(_.resetPeakUsage())
    val filesBefore = if (trace) fileTimes(tmpDir) else Map.empty[String, Long]
    val gc0 = gcMs; val jit0 = jitMs
    val loadStart = loadavg
    val steal0 = stealMs
    val plain = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Double]
    val samples = Vector.newBuilder[Sample]
    var tracedGc = 0.0
    var tracedJit = 0.0
    var pass = 0
    var passes = 1
    while (pass < passes) {
      val on = trace && (pass % 4 == 1 || pass % 4 == 2)
      val g0 = gcMs; val j0 = jitMs
      tracer.filter(_ => on).foreach(_.start())
      val p0 = nowMs
      val ss = runPass(rng.shuffle(ops))
      val last = nowMs - p0
      if (pass == 0)
        passes = math.max(if (trace) 4 else 1, math.round(seconds * 1000 / last).toInt)
      if (on) {
        tracer.foreach(_.stop())
        traced += last
        tracedGc += gcMs - g0; tracedJit += jitMs - j0
      } else plain += last
      if (on || !trace) samples ++= ss
      pass += 1
    }
    tracer.foreach(_.detach())
    val timed = samples.result()
    val result: Map[String, Any] = tracer match {
      case None => endToEnd(plain.result(), timed, setupS)
      case Some(t) =>
        val fresh = fileTimes(tmpDir).count { case (f, m) => filesBefore.get(f).forall(_ != m) }
        val spans = timed.map(_.span)
        val layers = t.report(spans) ++ Map(
          "core.session_ms" -> sessionMs,
          "store.files_written" -> fresh.toDouble,
          "jvm.gc_ms" -> tracedGc,
          "jvm.jit_ms" -> tracedJit,
          "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
          "trace.overhead" -> (Stats.median(traced.result()) / Stats.median(plain.result()) - 1))
        Map("per_layer" -> layers, "trace_spans" -> t.spans(spans),
          "passes_untraced_ms" -> plain.result(), "passes_traced_ms" -> traced.result())
    }
    log(f"measured at ${(nowMs - jvmStart) / 1000}%.1f s")
    val loadEnd = loadavg
    val canaryEnd = canary(spark)
    val failures = setupFailures.toSeq ++
      timed.filterNot(_.outcome.ok).map(s => s"${s.op}: ${s.outcome.note}")

    val env = Map(
      "nproc" -> cores, "seed" -> seed, "workload" -> workload, "trace" -> trace,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "steal_ms" -> (stealMs - steal0),
      "canary_ms_start" -> canaryStart, "canary_ms_end" -> canaryEnd,
      "java_version" -> sys.props("java.version"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_version" -> spark.version,
      "jvm_gc_ms" -> (gcMs - gc0), "jvm_jit_ms" -> (jitMs - jit0))
    val record = result ++ Map(
      "env" -> env,
      "attempted" -> (timed.size + setupFailures.size),
      "failed" -> failures.size,
      "failures" -> failures.take(50),
      "ops" -> timed.map(s => Map("op" -> s.op, "ms" -> s.ms, "ok" -> s.outcome.ok)))
    spark.stop()
    val withRss = record + ("peak_rss_mb" -> vmHwmMb)
    Files.write(Paths.get(out), JsonMethods.compact(Json.of(withRss)).getBytes(UTF_8))
    log(f"record written at ${(nowMs - jvmStart) / 1000}%.1f s")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Untimed passes before timing. After one pass of mr_pipeline or
    * query_mix the JIT is still compiling the code paths their operations
    * share, and a second pass cut their run-to-run spread; their passes
    * are cheap (3-6 s warm). One cold pass of ingest already costs 20 s. */
  val WarmPasses = Map("mr_pipeline" -> 2, "query_mix" -> 2, "ingest" -> 1)

  val MrRecords = 100000
  val PrefixRecords = 1000

  /** The naive evaluator, the Spark pipeline and the fold must agree on
    * a small prefix of the input. */
  def prefixCheck(spark: SparkSession, in: MrInput): Seq[String] = {
    import spark.implicits._
    MrInput.shapes.flatMap { s =>
      val fold = in.expected(s)
      val local = MrInput.pipeline(spark, s).runLocal(in.records).sorted
      val dist = MrInput.run(spark, s, spark.createDataset(in.records))
      Seq("runLocal" -> local, "spark" -> dist).collect {
        case (what, got) if got != fold => s"$s prefix: $what differs from the fold"
      }
    }
  }

  def runPass(ops: Seq[Op]): Seq[Sample] = ops.map { op =>
    val t0 = nowMs
    var tb = t0
    val outcome =
      try {
        val exec = op.build()
        tb = nowMs
        exec()
      } catch {
        case e: Throwable =>
          if (tb == t0) tb = nowMs
          Outcome(ok = false, 0, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val t1 = nowMs
    Sample(op.name, t1 - t0, outcome, OpSpan(op.name, t0, tb, t1))
  }

  def endToEnd(passes: Seq[Double], samples: Seq[Sample], setupS: Double): Map[String, Any] = {
    val ms = samples.map(_.ms)
    val tail = Stats.tail(ms)
    val ok = samples.count(_.outcome.ok)
    Map("end_to_end" -> Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passes) / 1000,
      "op_p50_ms" -> Stats.median(ms),
      "mr_records_per_s" -> samples.map(_.outcome.records).sum / (ms.sum / 1000),
      "ok_ratio" -> ok.toDouble / samples.size),
      // recorded, not gated: a run's 5-9 samples give no steady tail
      "op_tail_ms" -> tail.value, "op_tail_percentile" -> tail.percentile,
      "op_samples" -> tail.samples, "passes_ms" -> passes)
  }

  def readOps(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSeq

  def readGolden(f: File): Map[String, Digest] =
    if (!f.isFile) Map.empty
    else JsonMethods.parse(f) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> Digest.parse(v) }.toMap
      case _ => Map.empty
    }

  /** Median latency of `spark.range(100).count()` after a short warmup:
    * the host's per-job fixed cost, recorded so a contended run shows. */
  def canary(spark: SparkSession): Double = {
    (1 to 2).foreach(_ => spark.range(100).count())
    Stats.median((1 to 5).map { _ =>
      val t0 = nowMs; spark.range(100).count(); nowMs - t0
    })
  }

  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Exception => "" }

  /** CPU time the hypervisor gave to others while this host's CPUs
    * wanted to run: a contended host shows here before anywhere else. */
  def stealMs: Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      cpu(8).toDouble * 10
    } catch { case _: Exception => -1.0 }

  def vmHwmMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  def fileTimes(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else Files.walk(dir.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> p.toFile.lastModified).toMap
}

/** Just enough JSON writing for the run record. */
object Json {
  def of(v: Any): JValue = v match {
    case null => JNull
    case m: Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> of(x) })
    case xs: Iterable[_] => JArray(xs.toList.map(of))
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case other => JString(other.toString)
  }
}
