package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.classic.GraftDatasetShim
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The round driver under every iterative fixpoint in the engine —
  * connected components, the PageRank fixpoint and Lloyd k-means. It is
  * the reference's stage-barrier round structure (`src/Impl.hs:79-104`):
  * each round is a map/reduce pass over the previous round's state,
  * materialized at a barrier, with only that state carried into the
  * next round.
  *
  * [[run]] owns the loop once: it materializes each round's state, reads
  * the round's `changed` count as an [[Observation]] on that same job
  * (one SQL execution per round, no separate stability pass — per-job
  * fixed cost is what dominates small-round fixpoints on high-latency
  * schedulers), frees the previous round as soon as its last reader has
  * run, and stops when nothing changed or at the round cap. An algorithm
  * supplies only its round-0 state and its step.
  *
  * Where round state lives is the [[Policy]]:
  *   - [[Local]] — `localCheckpoint` for round state and static inputs:
  *     fast, lineage truncated, but executor-local.
  *   - [[Durable]] — every round committed through the store, resumable
  *     after a driver crash and indifferent to executor loss.
  *
  * Under both, state that is already on the driver (a plan over a
  * `LocalRelation`, e.g. k-means' K×dim centroid table) is treated as
  * materialized: no checkpoint job is spent on it. */
object Fixpoint {

  sealed trait Policy

  /** In-memory rounds: each round's state is `localCheckpoint`ed and
    * the superseded checkpoint is released the moment the next one is
    * materialized. Leaving superseded checkpoints to the async
    * ContextCleaner let blocks pile up across rounds and reruns:
    * measured on the sf0.1 bench, repeated runs degraded 2.6 s -> 5.5 s
    * and inflated UNRELATED queries sharing the JVM up to 5×. Release
    * goes through [[GraftDatasetShim.unpersistCheckpoint]]:
    * `Dataset.unpersist` no-ops on checkpoint storage. */
  case object Local extends Policy

  /** DURABLE round checkpointing — the 100 TB counterpart of [[Local]].
    * `localCheckpoint` truncates lineage into executor-local blocks:
    * fast, but a single lost executor mid-iteration kills the whole job
    * unrecoverably (the blocks have no lineage to rebuild from). At 1000
    * executors × 40 rounds that is the EXPECTED case, not the edge case.
    *
    * Here every round's state is written through the durable store as a
    * parquet directory, committed by an engine-owned `_GRAFT_COMMITTED`
    * marker written (temp+rename) only after the data job completes — a
    * crashed write leaves no marker and is clobbered by the overwrite on
    * retry. Consequences, in order of importance at scale:
    *
    *   - **Executor loss is a non-event.** Each round's lineage is rooted
    *     at a parquet scan, so a lost executor merely re-runs its tasks
    *     against the files — the standard stage-retry path, no special
    *     casing. Nothing the job depends on ever lives only in executor
    *     memory.
    *   - **Driver loss is a bounded restart.** Re-invoking with the same
    *     checkpoint dir resumes from the last committed round: the scan
    *     of `round_*` directories picks the highest committed round, so
    *     at most one round of work is repeated. A checkpoint this run
    *     could not have produced (a committed round or a converged marker
    *     past `maxRounds`, or a fixed-round run that completed another
    *     number of rounds) is refused, never silently resumed.
    *   - **Storage is O(1) rounds.** A committed round supersedes its
    *     predecessor, which is deleted as soon as the successor's
    *     stability check (its last reader) has run — the dir never holds
    *     more than two round states plus the static inputs, and a
    *     converged dir holds one.
    *
    * The dir is any Hadoop-FS path (HDFS/S3A in production, file:// in
    * tests) — the same write path every other sink in the engine takes.
    * `chaosHook(round)` runs on the driver before each round — the seam
    * for crash and executor-kill injection; default no-op.
    *
    * Reference analog: the store-backed stage materialization that makes
    * the reference's task retry idempotent (src/Core/Std.hs:49-57,
    * src/ImplServer.hs:86-90) — state lives in the Store between stages,
    * not in worker memory. */
  final case class Durable(dir: String, chaosHook: Int => Unit = _ => ())
      extends Policy

  /** A fixpoint's round-0 state and its step. The state's columns are
    * `init`'s; `step` may add helper columns for the `changed` count
    * (e.g. the previous label), which the loop drops before it
    * materializes the round. */
  final case class Rounds(init: DataFrame, step: DataFrame => DataFrame)

  /** One run's outcome: the final state, the rounds run by this call,
    * the committed round it resumed from (0 for a fresh start), and
    * whether the run completed — the last round changed nothing, or a
    * fixed-round run ran all its rounds. */
  final case class Result(state: DataFrame, rounds: Int, resumedFrom: Int,
      converged: Boolean)

  /** A run's round-invariant inputs, materialized once under its policy:
    * `localCheckpoint`ed under [[Local]], written once (and reused on
    * resume) under [[Durable]]. */
  final class Inputs private[Fixpoint] (policy: Policy) {
    private[Fixpoint] val checkpoints =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def apply(name: String, df: DataFrame): DataFrame = policy match {
      case Local =>
        val c = df.localCheckpoint()
        checkpoints += c
        c
      case Durable(dir, _) => durableInput(df, dir, name)
    }
  }

  /** Run the fixpoint `setup` describes under `policy`: at most
    * `maxRounds` rounds, stopping early once the observed sum of
    * `changed` over a round's step output is 0. Without `changed` the
    * run is fixed-round: exactly `maxRounds` rounds. `setup` receives the
    * run's [[Inputs]] and is not called at all when a durable run finds
    * its dir already converged. */
  def run(spark: SparkSession, policy: Policy, maxRounds: Int,
      changed: Option[Column] = None)(setup: Inputs => Rounds): Result = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val durable = policy match {
      case d: Durable => Some(d)
      case Local => None
    }
    def refuse(dir: String, what: String): Nothing = throw new IllegalStateException(
      s"fixpoint checkpoint at $dir $what, but this run asks for " +
        s"${if (changed.isEmpty) "exactly" else "at most"} $maxRounds rounds; " +
        "wipe the checkpoint dir or match the original round count")
    for (d <- durable; n <- readConverged(spark, d.dir)) {
      if (n > maxRounds || (changed.isEmpty && n != maxRounds))
        refuse(d.dir, s"converged after $n rounds")
      return Result(readRound(spark, d.dir, n), 0, n, converged = true)
    }

    val inputs = new Inputs(policy)
    val Rounds(init, step) = setup(inputs)
    val resumed = durable.flatMap(d => latestCommitted(spark, d.dir))
    for (d <- durable; n <- resumed if n > maxRounds)
      refuse(d.dir, s"has committed round $n")
    val start = resumed.getOrElse(0)
    var state = (durable, resumed) match {
      case (Some(d), Some(n)) => readRound(spark, d.dir, n)
      case (Some(d), None) => commitRound(init, d.dir, 0)
      case (None, _) => if (materialized(init)) init else init.localCheckpoint()
    }
    // whether `state` is a checkpoint this loop made (and so may free)
    var owned = durable.isEmpty && !materialized(init)
    var round = start
    var stable = false
    while (!stable && round < maxRounds) {
      durable.foreach(_.chaosHook(round))
      val obs = Observation()
      val out = changed.fold(step(state))(c => step(state).observe(obs, c.as("changed")))
      val kept =
        if (out.columns.sameElements(init.columns)) out
        else out.select(init.columns.map(col).toSeq: _*)
      val next = durable match {
        case Some(d) => commitRound(kept, d.dir, round + 1)
        case None => if (materialized(kept)) kept else kept.localCheckpoint()
      }
      stable = changed.isDefined && (obs.get("changed") match {
        case l: java.lang.Long => l.longValue == 0
        case _ => true // empty state: a sum over zero rows is null
      })
      // `next` is materialized and was the previous round's last reader
      durable match {
        case Some(d) => dropRound(spark, d.dir, round)
        case None => if (owned) GraftDatasetShim.unpersistCheckpoint(state)
      }
      owned = durable.isEmpty && !materialized(kept)
      state = next
      round += 1
    }
    val converged = stable || (changed.isEmpty && round == maxRounds)
    durable.foreach(d => if (converged) markConverged(spark, d.dir, round))
    // A loop-made checkpoint has truncated lineage and reads no input;
    // an unmaterialized round-0 state (no round ran) may still read them.
    if (owned) inputs.checkpoints.foreach(GraftDatasetShim.unpersistCheckpoint)
    Result(state, round - start, start, converged)
  }

  /** True iff `df` is a projection over driver-side rows or a checkpoint
    * — re-reading it costs no job worth a materialization of its own. */
  private def materialized(df: DataFrame): Boolean =
    leaf(df.queryExecution.analyzed) {
      case _: LocalRelation | _: LogicalRDD => true
      case _ => false
    }

  /** True iff `df` is a projection over driver-side rows. */
  private def onDriver(df: DataFrame): Boolean =
    leaf(df.queryExecution.analyzed)(_.isInstanceOf[LocalRelation])

  private def leaf(plan: LogicalPlan)(ok: LogicalPlan => Boolean): Boolean =
    plan match {
      case Project(_, child) => leaf(child)(ok)
      case p => ok(p)
    }

  // ---- durable round store ----

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def roundPath(dir: String, n: Int): String = f"$dir/round_$n%05d"

  private def readRound(spark: SparkSession, dir: String, n: Int): DataFrame =
    graft.core.Graft.cachedSchemaParquet(spark, roundPath(dir, n))

  /** Engine-owned commit marker. Deliberately NOT `_SUCCESS`: Spark only
    * writes that when `mapreduce.fileoutputcommitter.marksuccessfuljobs`
    * is on, and object-store deployments commonly disable it — keying
    * resume off `_SUCCESS` there would silently void every commit. Our
    * marker is written by us, after the data, via temp+rename. */
  private def commitMarker(path: String) = new Path(path, "_GRAFT_COMMITTED")

  /** Atomic-as-available small-file write: temp then rename (atomic on
    * HDFS/posix; copy+delete on raw S3A — the tolerant readers below
    * treat an empty/garbled file as absent, covering that residue). */
  private def writeAtomic(spark: SparkSession, target: Path, content: String): Unit = {
    val f = fs(spark, target.toString)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = f.create(tmp, true)
    out.write(content.getBytes("UTF-8")); out.close()
    f.delete(target, false)
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
  }

  private def committed(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(commitMarker(path))

  private def markCommitted(spark: SparkSession, path: String): Unit =
    writeAtomic(spark, commitMarker(path), "committed")

  private val RoundDirName = "round_(\\d+)".r

  /** Highest round with a completed commit (marker present), if any.
    * Partially-written rounds (crash mid-write) carry no marker and are
    * invisible here — the retry overwrites them. Non-round entries (temp
    * files, static inputs, strays) are regex-filtered, never parsed. */
  def latestCommitted(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    val base = new Path(dir)
    if (!f.exists(base)) return None
    val rounds = f.listStatus(base).map(_.getPath.getName)
      .collect { case RoundDirName(n) => n.toInt }
      .filter(n => committed(spark, roundPath(dir, n)))
    if (rounds.isEmpty) None else Some(rounds.max)
  }

  /** Commit one round of state: overwrite (clobbering any partial crash
    * leftovers — the overwrite also wipes any stale marker before the new
    * data lands), mark committed, then hand back the read-back frame so
    * every downstream plan is rooted at the durable files, not the
    * producing lineage. Driver-side state is handed back as it is: it
    * has no lineage to cut. */
  private def commitRound(df: DataFrame, dir: String, n: Int): DataFrame = {
    val path = roundPath(dir, n)
    df.write.mode("overwrite").parquet(path)
    markCommitted(df.sparkSession, path)
    if (onDriver(df)) df else readRound(df.sparkSession, dir, n)
  }

  private def dropRound(spark: SparkSession, dir: String, n: Int): Unit =
    fs(spark, dir).delete(new Path(roundPath(dir, n)), true): Unit

  /** Convergence marker: present ⇒ the fixpoint completed at the round it
    * names, and re-invocation returns immediately (idempotent restart). */
  private def convergedPath(dir: String) = new Path(s"$dir/_CONVERGED")

  private def markConverged(spark: SparkSession, dir: String, n: Int): Unit =
    writeAtomic(spark, convergedPath(dir), n.toString)

  /** Tolerant read: a marker that is missing, empty, or unparsable (the
    * residue of a crash inside a non-atomic create/write window, or of a
    * copy-then-delete object-store rename) reads as ABSENT — the fixpoint
    * then resumes from `latestCommitted` instead of wedging the dir. */
  private def readConverged(spark: SparkSession, dir: String): Option[Int] = {
    val f = fs(spark, dir)
    if (!f.exists(convergedPath(dir))) None
    else {
      val in = f.open(convergedPath(dir))
      val buf = new Array[Byte](32)
      val len = try in.read(buf) finally in.close()
      if (len <= 0) None
      else {
        val s = new String(buf, 0, len, "UTF-8").trim
        if (s.matches("\\d+")) Some(s.toInt) else None
      }
    }
  }

  /** Write a static (round-invariant) input once; reuse it on resume. */
  private def durableInput(df: DataFrame, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name"
    if (!committed(df.sparkSession, path)) {
      df.write.mode("overwrite").parquet(path)
      markCommitted(df.sparkSession, path)
    }
    graft.core.Graft.cachedSchemaParquet(df.sparkSession, path)
  }
}
