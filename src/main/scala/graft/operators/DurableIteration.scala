package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DURABLE round checkpointing for iterative fixpoint operators — the
  * 100 TB counterpart of the `localCheckpoint` the in-memory variants
  * use. `localCheckpoint` truncates lineage into executor-local blocks:
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
  *     of `round_*` directories picks the highest `_SUCCESS`-marked
  *     round, so at most one round of work is repeated.
  *   - **Storage is O(1) rounds.** A committed round supersedes its
  *     predecessor, which is deleted as soon as the successor's
  *     stability check (its last reader) has run — the dir never holds
  *     more than two round states plus the static inputs.
  *
  * The dir is any Hadoop-FS path (HDFS/S3A in production, file:// in
  * tests) — the same write path every other sink in the engine takes.
  * Reference analog: the store-backed stage materialization that makes
  * the reference's task retry idempotent (src/Core/Std.hs:49-57,
  * src/ImplServer.hs:86-90) — state lives in the Store between stages,
  * not in worker memory. */
object DurableIteration {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def roundPath(dir: String, n: Int): String = f"$dir/round_$n%05d"

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
    * producing lineage. */
  private def commitRound(df: DataFrame, dir: String, n: Int): DataFrame = {
    val path = roundPath(dir, n)
    df.write.mode("overwrite").parquet(path)
    markCommitted(df.sparkSession, path)
    graft.core.Graft.cachedSchemaParquet(df.sparkSession, path)
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

  /** [[ConnectedComponents.components]] with durable round state: same
    * min-label fixpoint, same result, but every round commits `(id,
    * component)` through the store and the loop resumes from the last
    * committed round on re-invocation. Returns (labels, roundsRunHere,
    * resumedFromRound) so callers and specs can see recovery happen.
    *
    * `chaosHook(round)` runs on the driver before each round — test
    * seam for crash/kill injection; default no-op. */
  def componentsDurable(
      vertices: DataFrame, edges: DataFrame, maxIters: Int,
      ckptDir: String,
      chaosHook: Int => Unit = _ => ()): (DataFrame, Int, Int) = {
    val spark = vertices.sparkSession
    readConverged(spark, ckptDir) match {
      case Some(n) =>
        return (graft.core.Graft.cachedSchemaParquet(spark, roundPath(ckptDir, n)), 0, n)
      case None => ()
    }
    val sym = durableInput(
      edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct(),
      ckptDir, "sym")
    val startRound = latestCommitted(spark, ckptDir).getOrElse {
      commitRound(vertices.select(col("id"), col("id").as("component")),
        ckptDir, 0)
      0
    }
    var labels = graft.core.Graft.cachedSchemaParquet(spark, roundPath(ckptDir, startRound))
    var iter = startRound
    var converged = false
    while (!converged && iter < maxIters) {
      chaosHook(iter)
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("component"),
          lit(null).cast("long").as("__old"))
      val self = labels.select(col("id"), col("component"),
        col("component").as("__old"))
      // Stability check observed DURING the commit write (each id's
      // group has exactly one self row, so max(__old) is the previous
      // label): one SQL execution + one store round-trip per round
      // instead of two executions and an extra join. The fewer fixed
      // per-job costs a round pays, the better the loop survives
      // high-latency drivers and 1000-executor job-submit overhead.
      val obs = org.apache.spark.sql.Observation()
      val next = commitRound(
        self.unionAll(prop)
          .groupBy("id").agg(min("component").as("component"),
            max("__old").as("__old"))
          .observe(obs, sum(when(col("component") < col("__old"), 1L)
            .otherwise(0L)).as("changed"))
          .select("id", "component"),
        ckptDir, iter + 1)
      val changed = obs.get("changed") match {
        case l: java.lang.Long => l.longValue
        case _ => 0L // empty vertex set: sum over zero rows is null
      }
      // the commit write was round `iter`'s last reader — delete it
      // now (crash-safe: round iter+1 is already committed, so a resume
      // lands there regardless)
      dropRound(spark, ckptDir, iter)
      labels = next
      converged = changed == 0
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    markConverged(spark, ckptDir, iter)
    (labels, iter - startRound, startRound)
  }

  /** Durable-round integer PageRank — the same exact-arithmetic
    * message-passing fixpoint as `Advanced.integerPageRankFixpoint`
    * (r' = 150000 + (850·Σ r div deg) div 1000 in long micro-units,
    * absorbing once stable), with per-round state `(node, r, __prev)`
    * committed through the store. The degree-folded edge list and the
    * node set are durable static inputs, written once and reused across
    * rounds AND restarts. Stability is re-derived from the round file's
    * own `__prev` column, so a crash between "stable round committed"
    * and "loop exit" costs at most one extra (identical, absorbing)
    * round after resume. Returns (ranks, roundsRunHere, resumedFrom). */
  def pageRankFixpointDurable(
      edges: DataFrame, maxRounds: Int, ckptDir: String,
      broadcastNodeLimit: Long = 1000000L,
      chaosHook: Int => Unit = _ => ()): (DataFrame, Int, Int) = {
    val spark = edges.sparkSession
    readConverged(spark, ckptDir) match {
      case Some(n) =>
        return (graft.core.Graft.cachedSchemaParquet(spark, roundPath(ckptDir, n)).select("node", "r"), 0, n)
      case None => ()
    }
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = durableInput(
      edges.join(outdeg, "src").select(col("src"), col("dst"), col("deg")),
      ckptDir, "edges")
    val nodes = durableInput(
      ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct(),
      ckptDir, "nodes")
    val bcast = nodes.count() <= broadcastNodeLimit
    def maybeB(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    val startRound = latestCommitted(spark, ckptDir).getOrElse {
      commitRound(
        nodes.withColumn("r", lit(1000000L)).withColumn("__prev", lit(-1L)),
        ckptDir, 0)
      0
    }
    var state = graft.core.Graft.cachedSchemaParquet(spark, roundPath(ckptDir, startRound))
    var rounds = startRound
    var stable = false
    while (!stable && rounds < maxRounds) {
      chaosHook(rounds)
      val ranks = state.select("node", "r")
      val contrib = ed
        .join(maybeB(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      // stability observed DURING the commit write — saves the per-round
      // read-back pass the old filter/limit/count paid (see the
      // componentsDurable note on per-job fixed costs)
      val obs = org.apache.spark.sql.Observation()
      val next = commitRound(
        nodes.join(maybeB(contrib), Seq("node"), "left")
          .join(maybeB(ranks.withColumnRenamed("r", "__prev")), "node")
          .select(col("node"),
            expr("CAST(150000 + (850 * coalesce(s, 0)) div 1000 AS BIGINT)").as("r"),
            col("__prev"))
          .observe(obs, sum(when(col("r") =!= col("__prev"), 1L)
            .otherwise(0L)).as("changed")),
        ckptDir, rounds + 1)
      stable = (obs.get("changed") match {
        case l: java.lang.Long => l.longValue
        case _ => 0L // empty graph: sum over zero rows is null
      }) == 0
      dropRound(spark, ckptDir, rounds)
      state = next
      rounds += 1
    }
    if (stable) markConverged(spark, ckptDir, rounds)
    (state.select("node", "r"), rounds - startRound, startRound)
  }

  /** [[KMeansQuant.fit]] with durable round state — the ML-training-loop
    * shape of the durable fixpoint family: the per-round centroid table
    * `(cid, cv)` (K·dim longs — metadata-sized however big the corpus)
    * commits through the store, and re-invocation resumes from the last
    * committed round instead of re-scanning the already-paid assignment
    * passes. Assignment/update math is byte-identical to the in-memory
    * fit (same kernels, same qround means), so durability cannot change
    * a single assignment. Returns (assignedFrame, roundsRunHere,
    * resumedFromRound). */
  def kMeansDurable(
      data: DataFrame, qvCol: String, init: Seq[Seq[Long]], rounds: Int,
      dim: Int, ckptDir: String,
      chaosHook: Int => Unit = _ => ()): (DataFrame, Int, Int) = {
    val spark = data.sparkSession
    import spark.implicits._

    def centsOf(round: Int): Seq[Seq[Long]] =
      graft.core.Graft.cachedSchemaParquet(spark, roundPath(ckptDir, round))
        .select("cid", "cv").as[(Long, Seq[Long])]
        .collect().sortBy(_._1).map(_._2).toSeq

    // Resume is only valid when the persisted state belongs to THIS run
    // shape: `rounds` assignment passes ⇒ the centroid fixpoint completes
    // after rounds-1 committed updates. A _CONVERGED marker from an
    // earlier invocation with a different `rounds`, or a committed round
    // beyond rounds-1, would otherwise short-circuit the loop and
    // silently return centroids from a different training length.
    readConverged(spark, ckptDir) match {
      case Some(n) if n == rounds - 1 =>
        return (KMeansQuant.withAssignment(data, qvCol, centsOf(n)), 0, n)
      case Some(n) =>
        throw new IllegalStateException(
          s"kMeansDurable: checkpoint at $ckptDir converged after $n " +
            s"update rounds but this invocation requested rounds=$rounds " +
            s"(= ${rounds - 1} updates); wipe the checkpoint dir or match " +
            "the original rounds")
      case None => ()
    }
    val startRound = latestCommitted(spark, ckptDir).getOrElse {
      commitRound(
        init.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
          .toDF("cid", "cv"),
        ckptDir, 0)
      0
    }
    if (startRound > rounds - 1)
      throw new IllegalStateException(
        s"kMeansDurable: checkpoint at $ckptDir has committed round " +
          s"$startRound, past this invocation's last update round " +
          s"${rounds - 1} (rounds=$rounds); wipe the checkpoint dir or " +
          "match the original rounds")
    var cents = centsOf(startRound)
    var iter = startRound
    // rounds = number of assignment passes; the last pass has no update,
    // so the centroid fixpoint completes after rounds-1 committed updates
    while (iter < rounds - 1) {
      chaosHook(iter)
      val sums = KMeansQuant.withAssignment(data, qvCol, cents)
        .select(col("cluster"), col(qvCol))
        .as[(Long, Seq[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(TypedAggregates.LongVectorSum(dim).toColumn)
        .collect()
      val updated = sums.map { case (cid, (s, n)) =>
        cid -> s.map(x => graft.functions.VecOps.qround(x.toDouble / n)).toSeq
      }.toMap
      cents = cents.indices.map(c => updated.getOrElse(c.toLong, cents(c)))
      commitRound(
        cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
          .toDF("cid", "cv"),
        ckptDir, iter + 1)
      dropRound(spark, ckptDir, iter)
      iter += 1
    }
    markConverged(spark, ckptDir, iter)
    (KMeansQuant.withAssignment(data, qvCol, cents), iter - startRound, startRound)
  }
}
