package graft
import org.apache.spark.sql.SparkSession

import graft.core.QueryProfile

/** Benchmark main: runs every registry query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is executed with a noop-format write —
  * the same full materialization Verify pays (count() would let Catalyst
  * drop the top-level ORDER BY) — and failures are reported per-query
  * instead of being recorded as ordinary timings.
  *
  * TIMEOUT-SURVIVABLE since r15 (the r14 postmortem: the driver's sweep
  * was killed at its timeout with rc=124 and, because all JSON was
  * printed only at the end, the round shipped NO performance record):
  *  - the per-query detail file is rewritten INCREMENTALLY after every
  *    timed query (with "partial":true until the sweep completes), so a
  *    kill at any point leaves a parsable record of everything measured;
  *  - a JVM shutdown hook prints the compact summary line (also flagged
  *    "partial":true) if the normal end-of-run print never happened —
  *    `timeout`'s SIGTERM runs hooks, so even the killed run's stdout
  *    tail carries one complete JSON object;
  *  - per-query progress goes to stderr as it happens, so a captured
  *    tail shows WHERE a hung sweep was, not a page of warnings
  *    (WindowExec's single-partition warning — documented-intentional on
  *    bounded inputs everywhere it fires — is silenced up front);
  *  - FLOOR-DOMINATED gates ([[SparkEntry.floorGates]]: live micro-batch
  *    streams, persisted-index round-trips) run ONCE with no untimed
  *    warmup pass — min-of-N on a fixed trigger/commit floor measures
  *    nothing and the two redundant passes were ~40% of r14's wall;
  *  - the post-sweep rebench is BUDGETED (≤20 runs and ≤60 s) and
  *    skipped entirely when the end-of-sweep canary shows the host got
  *    contended mid-run (rebenching 36 queries ×3 on a contended host is
  *    exactly the amplification that blew the r14 timeout) — skipped
  *    flags are published as contended/unadjudicated, never silently
  *    dropped or silently "regressed".
  *
  * Contended-machine self-defense (r6 postmortem: a co-scheduled driver
  * JVM inflated five published times 4-7× vs isolated reruns, and min-of-2
  * didn't help because BOTH iterations were contended):
  *  - every iteration time is kept, per-query dispersion (max/min ratio)
  *    is published on the detail line ("spread");
  *  - queries whose spread exceeds 1.5× get ONE extra timed run after the
  *    whole sweep finishes (by then a transient co-scheduled job has
  *    often drained) and the min over all observations is published;
  *  - queries still above 1.5× spread after the retry are listed in
  *    "contended" on both output lines — the record says which numbers
  *    not to trust rather than silently misreporting them;
  *  - /proc/loadavg is sampled before and after the sweep and published
  *    ("loadavg_start"/"loadavg_end" vs "cpus"): a load average well
  *    above the core count is machine-level evidence of co-scheduling.
  *
  * Cross-round regression guard, SELF-ADJUDICATING since r12 (the
  * r10/r11 postmortem: three consecutive rounds of manual flag
  * adjudication, every flag host/JIT noise — the harness now runs the
  * adjudication itself):
  *  - the per-query threshold is the baseline minimum scaled by the
  *    CANARY RATIO — env_sql_ms now vs the env_sql_ms stamped in
  *    bench_baseline.json — so a host whose fixed SQL cost drifted
  *    between rounds shifts every threshold by the measured amount
  *    (clamped to [0.5, 3]); the canary is measured at sweep START and
  *    END and the threshold uses the larger ratio (r14's contention
  *    ramped mid-sweep, loadavg 2.5→4.0, so a start-only canary missed
  *    it); the sweep median ratio is still published
  *    ("baseline_ratio_median") as a diagnostic but no longer gates;
  *  - queries over the scaled threshold (1.5× with a 0.2 s absolute
  *    floor) get the isolated iters=3 REBENCH the judge used to run by
  *    hand (1 run for floor gates), min folded into the published value;
  *    only SURVIVORS are published as "regressed", the rest in
  *    "flag_cleared" (the record shows the guard adjudicated them).
  *
  * The driver's capture keeps only a tail window of stdout, so the FULL
  * per-query map is also written to bench_detail.json (override with
  * SPARK_GRAFT_OUT) — commit that file alongside the round's BENCH
  * record, and promote it with tools/promote_baseline.py (canary-
  * normalized per-query minimums) to arm the guard.
  *
  * Every timed run goes through [[graft.core.QueryProfile.measure]], and
  * the detail file (not the stdout lines) carries, under "profile", the
  * profile of each query's fastest timed run — the run whose time is
  * published:
  *  - "wall_s": that run's time; "jobs", "stages", "tasks": Spark jobs
  *    started, stages and tasks run;
  *  - "job_ms": the union of the job intervals; "gap_ms": wall minus
  *    job_ms, the driver time between jobs; "task_run_ms": executor run
  *    time summed over tasks;
  *  - "shuffle_read_bytes", "shuffle_write_bytes", "spill_disk_bytes",
  *    "peak_stage_shuffle_write" (the largest one-stage shuffle write);
  *  - "per_job": one {"ms","stages","label"} per job, labelled with its
  *    `spark.job.description` or its call site.
  * The listener bus is drained (bounded, 60 s) before the listener is
  * attached and again before it is read, outside the timed body, so the
  * counts hold exactly the run's own events. A scale run is this main on
  * a replica from tools/scale_testdata.py:
  * `SPARK_GRAFT_SF_DIR=<replica> SPARK_GRAFT_ONLY=q_a,q_b`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Graft.session(s"local[$cpus]", cpus.toInt)
    // Steady-state throughput: each query runs `iters` times, min is
    // reported — first runs pay per-query codegen/JIT compilation that a
    // long-running engine amortizes away. Floor-dominated gates always
    // run once (their wall time IS the floor, not compute).
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val probe = sys.env.get("SPARK_GRAFT_PROBE").contains("1")
    val floor = SparkEntry.floorGates
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    def loadavg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }

    // JVM-health probe (SPARK_GRAFT_PROBE=1): cumulative GC ms, heap /
    // metaspace / code-cache MB, thread count, leaked persistent RDDs —
    // the r7 checkpoint-block-leak playbook, emitted per query to stderr
    // so a sweep-level drift (GC pressure, class churn, block leak) is
    // visible in one run instead of needing a bisect.
    def probeLine(tag: String, t: Double, wall: Double): Unit = if (probe) {
      import java.lang.management.ManagementFactory._
      import scala.jdk.CollectionConverters._
      val gc = getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val heap = getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      val pools = getMemoryPoolMXBeans.asScala
      def pool(name: String) = pools.filter(_.getName.contains(name))
        .map(_.getUsage.getUsed).sum / 1e6
      val threads = getThreadMXBean.getThreadCount
      val rdds = spark.sparkContext.getPersistentRDDs.size
      System.err.println(
        f"[probe] $tag t=$t%.2f wall=$wall%.1f gc_ms=$gc heap_mb=$heap%.0f " +
        f"meta_mb=${pool("Metaspace")}%.0f code_mb=${pool("CodeHeap")}%.0f " +
        f"threads=$threads rdds=$rdds")
    }

    // Probe companion: histogram of live thread names (digits collapsed)
    // — identifies WHICH pool a thread-count drift belongs to.
    def threadHistogram(tag: String): Unit = if (probe) {
      val threads = Thread.getAllStackTraces.keySet()
      import scala.jdk.CollectionConverters._
      threads.asScala.toSeq
        .map(_.getName.replaceAll("[0-9]+", "N"))
        .groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy(-_._2).take(25)
        .foreach { case (n, c) => System.err.println(s"[threads] $tag $c $n") }
    }

    // The profile of each query's fastest timed run: the run whose time
    // is published. Cleared when the warmup ends.
    val best = scala.collection.mutable.Map.empty[String, QueryProfile.Profile]
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      try {
        val (_, p) = QueryProfile.measure(spark, name)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        if (best.get(name).forall(_.wallSeconds > p.wallSeconds)) best(name) = p
        p.wallSeconds
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      }

    // Machine-speed canaries, published with the record: median empty
    // RDD-job latency and empty SQL-execution latency. The r9 postmortem
    // (identical code benching 2.1x slower after a host reboot; per-task
    // compute unchanged, per-JOB fixed cost tripled) showed that a bench
    // record must carry its own environment evidence — a cross-round
    // consumer comparing totals needs to see whether the machine's
    // scheduler-latency floor moved between records.
    def medianMs(n: Int)(f: => Unit): Double = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(n / 2)
    }
    (1 to 10).foreach(_ => spark.range(100).count()) // canary warmup
    val envJobMs = medianMs(20)(
      spark.sparkContext.parallelize(1 to 10, 4).count(): Unit)
    val envSqlMs = medianMs(20)(spark.range(100).count(): Unit)

    val defaultOut =
      if (only.isDefined) "bench_detail_subset.json" else "bench_detail.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_OUT", defaultOut)
    def writeDetail(json: String): Unit =
      try {
        val w = new java.io.PrintWriter(outPath, "UTF-8")
        try w.println(json) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] detail write to $outPath failed: ${e.getMessage}")
      }
    def jmap(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def profiles: String = jmap(best.toSeq.sortBy(_._1).map { case (n, p) => n -> p.json })

    // Progress state shared with the shutdown hook: everything measured
    // so far, so a SIGTERM mid-sweep still publishes a partial record.
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    @volatile var summaryPrinted = false
    @volatile var phase = "warmup"
    def partialSummary(): String = {
      import scala.jdk.CollectionConverters._
      val snap = done.asScala.toSeq
      val ok = snap.filter(_._2 >= 0)
      // full map even on a killed run (r17, matching the final line):
      // everything measured so far, ms precision
      val qs = ok.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${ok.map(_._2).sum},"unit":"sec","partial":true,"phase":"$phase","queries":$qs,"queries_truncated":false,"n_queries":${snap.size},"n_selected":${selected.size},"n_failed":${snap.count(_._2 < 0)},"iters":$iters,"env_sql_ms":$envSqlMs,"cpus":$cpus,"sf":"$sfDir"}"""
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!summaryPrinted) {
        println(partialSummary())
        System.out.flush()
      }
    }))

    // Untimed warmup: one full sweep of the registry. A partial
    // (3-query) warmup left first-iteration JIT/codegen cost landing on
    // whichever queries ran early — r4/r5 both published ~2-6x-inflated
    // times for a shifting handful of early-alphabet queries. Sweeping
    // everything once means the timed min below is steady-state for every
    // query, at the cost of one extra (untimed) pass. Floor gates warm
    // too — their published number should be the steady floor, not a
    // one-off codegen+index-bootstrap bill (the first no-warmup r15 run
    // published q_sim_ivf_compacted at 18 s vs its 5.5 s steady state:
    // the compacted twin's persisted-index cache was cold); what they
    // skip is the SECOND timed iteration, which on a fixed floor
    // measures nothing.
    val warm0 = System.nanoTime()
    selected.zipWithIndex.foreach { case ((name, fn), i) =>
      val t = timeOne(name, fn)
      System.err.println(f"[bench] warm ${i + 1}/${selected.size} $name $t%.2fs")
      probeLine(s"warm:$name", t, (System.nanoTime() - warm0) / 1e9)
    }

    phase = "timed"
    best.clear()
    val loadStart = loadavg
    val sweep0 = System.nanoTime()
    val firstPass = selected.zipWithIndex.map { case ((name, fn), i) =>
      val qIters = if (floor(name)) 1 else iters
      val ts = (1 to qIters).map(_ => timeOne(name, fn))
      done.add(name -> ts.min)
      val wall = (System.nanoTime() - sweep0) / 1e9
      System.err.println(
        f"[bench] timed ${i + 1}/${selected.size} $name ${ts.min}%.2fs wall=$wall%.0fs")
      probeLine(s"timed:$name", ts.min, wall)
      // incremental detail: a kill at any point leaves the full map so far
      writeDetail(s"""{"metric":"total_detail","partial":true,"unit":"sec","queries":${jmap(done.toArray(Array.empty[(String, Double)]).toSeq.map { case (n, v) => n -> v.toString })},"iters":$iters,"env_sql_ms":$envSqlMs,"sf":"$sfDir","profile":$profiles}""")
      (name, fn, ts)
    }
    val loadEnd = loadavg
    threadHistogram("sweep_end")
    phase = "adjudicate"
    // End-of-sweep canary: contention that RAMPED during the sweep (the
    // r14 14:49 run: loadavg 2.5→4.0) is invisible to the start canary;
    // thresholds below use the larger of the two ratios.
    val envSqlMsEnd = medianMs(20)(spark.range(100).count(): Unit)

    val spreadLimit = 1.5
    // ...with an absolute floor: a 0.05s wobble on a 0.1s query is
    // scheduler jitter, not contention, and doesn't distort the record.
    val deltaFloor = 0.2
    def dispersed(ts: Seq[Double]): Boolean =
      ts.max / ts.min > spreadLimit && ts.max - ts.min > deltaFloor
    // Post-sweep retry for dispersed queries: one extra run each, taken
    // AFTER the sweep so a transient contender has had time to finish.
    val results = firstPass.map { case (name, fn, times0) =>
      val ok0 = times0.filter(_ >= 0)
      if (ok0.size < times0.size) (name, -1.0, -1.0, false)
      else {
        val retried =
          if (ok0.size > 1 && dispersed(ok0)) ok0 :+ timeOne(name, fn) else ok0
        val ok = retried.filter(_ >= 0)
        val spread = if (ok.min > 0) ok.max / ok.min else 1.0
        (name, ok.min, spread, ok.size > 1 && dispersed(ok))
      }
    }
    val failed = results.collect { case (n, v, _, _) if v < 0 => n }.sorted
    val contendedSpread = results.collect { case (n, _, _, true) => n }

    // Cross-round guard: prior per-query minimums from bench_baseline.json
    // (or SPARK_GRAFT_PREV), stamped with the canary (env_sql_ms) of the
    // sweep that recorded them. Absent/unparsable baseline disarms the
    // guard (first round, or sf mismatch) rather than failing the bench.
    val prevPath = sys.env.get("SPARK_GRAFT_PREV")
      .orElse(Some("bench_baseline.json").filter(p => new java.io.File(p).isFile))
    val (prev: Map[String, Double], prevCanary: Double) = prevPath.flatMap { p =>
      try {
        import org.json4s._
        val j = jackson.JsonMethods.parse(new java.io.File(p))
        val canary = (j \ "env_sql_ms") match {
          case JDouble(c) => c
          case JInt(c) => c.toDouble
          case _ => -1.0
        }
        (j \ "sf", j \ "queries") match {
          case (JString(psf), JObject(fields)) if psf == sfDir =>
            Some((fields.collect { case (k, JDouble(v)) => k -> v
                                   case (k, JInt(v)) => k -> v.toDouble }.toMap, canary))
          case (_, JObject(fields)) if (j \ "sf") == JNothing =>
            Some((fields.collect { case (k, JDouble(v)) => k -> v
                                   case (k, JInt(v)) => k -> v.toDouble }.toMap, canary))
          case _ => None // baseline measured at a different sf — disarm
        }
      } catch { case _: Throwable => None }
    }.getOrElse((Map.empty[String, Double], -1.0))
    // Host-noise normalization, r12 (the r10/r11 flag-churn postmortem:
    // three rounds of manual flag adjudication, every flag host noise):
    // the per-query threshold scales by the CANARY ratio — the measured
    // ratio of this host's fixed SQL cost now vs when the baseline was
    // recorded — instead of the sweep median, which conflated genuine
    // uniform plan regressions with host drift. The median is still
    // published as a diagnostic. Canary ratio is clamped to [0.5, 3]
    // (beyond that the environment comparison is meaningless anyway) and
    // never below 1's deltaFloor discipline. Start AND end canaries both
    // feed it — contention that ramps mid-sweep shifts the end one.
    def ratioOf(ms: Double): Double =
      if (prevCanary > 0 && ms > 0)
        math.min(3.0, math.max(0.5, ms / prevCanary))
      else 1.0
    val canaryRatio = math.max(ratioOf(envSqlMs), ratioOf(envSqlMsEnd))
    val ratios = results.collect {
      case (n, v, _, _) if v >= 0 && prev.get(n).exists(_ > 0.05) =>
        v / prev(n)
    }.sorted
    val medianRatio =
      if (ratios.isEmpty) 1.0
      else math.max(1.0, ratios(ratios.length / 2))
    def overThreshold(n: String, v: Double): Boolean =
      v >= 0 && prev.get(n).exists(p =>
        v > p * canaryRatio * spreadLimit && v - p * canaryRatio > deltaFloor)
    // SELF-ADJUDICATION (r11 verdict item 3), BUDGETED (r14 rc=124
    // postmortem: 36 flags × 3 isolated re-runs on a host whose
    // contention caused the flags is the amplification that blew the
    // driver timeout): queries still over the canary-scaled threshold
    // get the isolated rebench — three post-sweep re-runs (one for floor
    // gates), min folded into the published value — but (a) the whole
    // rebench phase is skipped when the END canary says the host itself
    // got ≥1.3× slower mid-run (the drift is environmental, not a plan),
    // and (b) total rebench spend is capped at 20 runs / 60 s. Flags the
    // budget could not adjudicate are published in "flag_unadjudicated"
    // and counted contended — never silently dropped, never published as
    // regressed without the isolated evidence.
    val byName = firstPass.map { case (n, fn, _) => n -> fn }.toMap
    val preliminary = results.collect {
      case (n, v, _, _) if overThreshold(n, v) => n
    }.sorted
    val envContended = ratioOf(envSqlMsEnd) > 1.3
    phase = "rebench"
    var rebenchRuns = 0
    val rebench0 = System.nanoTime()
    def rebenchBudgetLeft: Boolean =
      rebenchRuns < 20 && (System.nanoTime() - rebench0) / 1e9 < 60.0
    val rebenched = scala.collection.mutable.Map.empty[String, Double]
    val unadjudicated = scala.collection.mutable.ArrayBuffer.empty[String]
    if (!envContended) preliminary.foreach { n =>
      if (!rebenchBudgetLeft) unadjudicated += n
      else {
        val runs = if (floor(n)) 1 else 3
        val ts = (1 to runs).map { _ =>
          rebenchRuns += 1; timeOne(n, byName(n))
        }.filter(_ >= 0)
        rebenched(n) = if (ts.isEmpty) -1.0 else ts.min
      }
    } else unadjudicated ++= preliminary
    val adjudicated = results.map { case (n, v, s, c) =>
      rebenched.get(n).filter(_ >= 0) match {
        case Some(rv) if v >= 0 => (n, math.min(v, rv), s, c)
        case _ => (n, v, s, c)
      }
    }
    val regressed = adjudicated.collect {
      case (n, v, _, _) if overThreshold(n, v) && !unadjudicated.contains(n) => n
    }.sorted
    val flagCleared = preliminary
      .filterNot(n => regressed.contains(n) || unadjudicated.contains(n)).sorted
    val contended = (contendedSpread ++ unadjudicated).distinct.sorted

    val qs = jmap(adjudicated.map { case (n, v, _, _) => n -> v.toString })
    val spreads = jmap(adjudicated.collect { case (n, _, s, _) if s >= 0 =>
      n -> f"$s%.2f" })
    val total = adjudicated.collect { case (_, v, _, _) if v >= 0 => v }.sum
    def jarr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = jarr(failed)
    val contendedJson = jarr(contended)
    val regressedJson = jarr(regressed)
    val regressedVs = prevPath.filter(_ => prev.nonEmpty)
      .map(p => f""","regressed_vs":"$p","baseline_ratio_median":$medianRatio%.3f,"canary_ratio":$canaryRatio%.3f,"flag_cleared":${jarr(flagCleared)},"flag_unadjudicated":${jarr(unadjudicated.toSeq)},"rebench_skipped_env":$envContended""")
      .getOrElse("")
    val envJson = f""""loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"env_job_ms":$envJobMs%.1f,"env_sql_ms":$envSqlMs%.1f,"env_sql_ms_end":$envSqlMsEnd%.1f,"cpus":$cpus"""
    val detailFields = s""""metric":"total_detail","value":$total,"unit":"sec","queries":$qs,"spread":$spreads,"contended":$contendedJson,"failed":$failedJson,"regressed":$regressedJson$regressedVs,"iters":$iters,$envJson,"sf":"$sfDir""""
    // Full detail line first (may exceed a tail-capture window at 88+
    // queries — r01/r02 both came back parsed:null from head truncation),
    // then a compact summary as the LAST stdout line so any tail window
    // still contains one complete parseable JSON object. Since r17 the
    // compact line carries the FULL per-query map at ms precision (see
    // the comment at the print below).
    println(s"{$detailFields}")
    System.out.flush()
    // ...and the same full record to a FILE, because the driver's capture
    // keeps only a 2 KB stdout tail: bench_detail.json is the durable
    // full-resolution record (commit it; promote to bench_baseline.json
    // to arm the next round's regression guard).
    // Subset runs (SPARK_GRAFT_ONLY) default to a separate file so a
    // quick single-query iteration cannot clobber the durable full-sweep
    // record a later baseline promotion would read. Only the file carries
    // the profiles.
    writeDetail(s"""{$detailFields,"profile":$profiles}""")
    // "queries" on the compact line carries the FULL per-query map (r17;
    // the r16 verdict's top item: the slowest-8 truncation left the
    // driver's cross-round comparison with n_common=0 and an empty
    // scaling table — r15's record was unparseable and the 32/8-core
    // top-8 sets were disjoint). Values are ms-precision (%.3f) to keep
    // the line compact: ~300 queries ≈ 9 KB, within the window the
    // driver's r16 parse demonstrably handled (its parsed record carried
    // a 130-name contended list at ~4.2 KB; the stored 2 KB "tail" is an
    // excerpt, not the parse window). Failed queries stay out of the map
    // (they are in "failed"); full precision lives on the detail line
    // and in bench_detail.json.
    val qsFull = adjudicated.filter(_._2 >= 0).sortBy(_._1)
      .map { case (k, v, _, _) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    summaryPrinted = true
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"queries_truncated":false,"n_queries":${adjudicated.size},"n_failed":${failed.size},"failed":$failedJson,"n_contended":${contended.size},"contended":$contendedJson,"n_regressed":${regressed.size},"regressed":$regressedJson$regressedVs,"iters":$iters,$envJson,"sf":"$sfDir"}""")
    // Last-resort line, totals only (~150 bytes): if a capture window is
    // too small for the full compact line above, the tail still ends in
    // one complete JSON object. Its own metric name keeps "total" the
    // unique full record for parsers that key on it.
    println(s"""{"metric":"bench_totals","value":$total,"unit":"sec","n_queries":${adjudicated.size},"n_failed":${failed.size},"n_contended":${contended.size},"n_regressed":${regressed.size},"cpus":$cpus}""")
    System.out.flush()
    spark.stop()
  }
}
