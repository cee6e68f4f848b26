package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Graft

/** The live drip harness: the one runtime under every file-drop stream
  * gate in `queries/Streaming.scala`. A gate supplies its feed, its
  * transform or `foreachBatch` body, its sink and its read-back; the
  * harness owns the rest:
  *
  *  - '''Staging.''' The feed is written as drops range-partitioned on
  *    the gate's column ([[Drip.Drops]] of them), followed by the gate's
  *    flush drops, one file each. Drops land in that order, so a
  *    chronological feed never puts a real row behind the watermark.
  *  - '''The staging cache.''' Drops are a pure function of the source
  *    dir, so they are staged once per application, gate and source dir
  *    under `Graft.appDir(spark, "stage")`; a repeated call (a bench
  *    warmup, then its timed pass) pays no staging.
  *  - '''The per-run root''', `Graft.artifactDir(spark, "stream", gate)`:
  *    source dir, outputs and checkpoints, fresh per run and keyed by
  *    applicationId, so two JVMs on one host never share it.
  *  - '''The drip scope''' ([[Drip.scope]]) and the drop loop: each drop
  *    is published atomically and drained by `processAllAvailable`, one
  *    micro-batch per drop, then the query stops.
  *  - '''Per-batch store commits''' ([[commit]], [[committed]]): the
  *    txn-committed KvSink write of one micro-batch and the recursive
  *    read-back of all of them.
  *
  * Flush drops and determinism. Append output depends on watermark
  * advancement, so the landing order is part of each gate's contract,
  * and the flush drops are what make the converged sink equal the batch
  * twin without relying on no-data micro-batches (which the scope turns
  * off):
  *
  *  - '''Append family''' (`q_stream_live_append`, `q_stream_kv_sink`,
  *    `q_stream_session_timers_live`). A far-future `zz_flush` sentinel
  *    (max ts + 30 d) advances the watermark past every real window and
  *    every armed timer; a SECOND drop with the same sentinel timestamp
  *    forces the data batch that emits them (window closure is detected
  *    one batch after the watermark advances). Both sentinels share one
  *    window, which never closes, so `zz_flush` never appears. The
  *    second flush drop also carries a deliberately LATE `zz_late` row
  *    (at the global min ts, far behind the watermark) that the stream
  *    must DROP — if append mode failed to drop it, emitted the open
  *    flush window or double-emitted a closed window, a sentinel row
  *    would surface and the oracle hash would mismatch.
  *  - '''Outer-join family''' (`q_stream_join_outer_live`,
  *    `q_stream_join_full_live`). Each flush drop carries one far-future
  *    purchase and one far-future signup, with reserved user ids
  *    −100/−200 that can never match a real row or each other. BOTH
  *    sides get one, because the global watermark is the min of the
  *    per-side watermarks. The second drop repeats the first's event
  *    time: null emission happens in the first batch whose watermark
  *    (set by the PREVIOUS batch) clears the purchases, and because the
  *    sentinel time never advances, the final watermark (sentinel − 1 h)
  *    never clears the sentinels themselves. Left-side sentinel null
  *    rows therefore never emit; in the FULL variant the signup
  *    sentinel's eviction bound (s_ts + 7 d) is further still, so it
  *    never surfaces either.
  *  - '''Complete mode''' (`q_stream_live`) and the `foreachBatch`
  *    gates need no flush: a complete-mode sink is independent of how
  *    rows are split into batches, and a `foreachBatch` body sees every
  *    drop as one batch.
  */
final class Drip private (spark: SparkSession, gate: String) {

  /** This run's root: the source dir, outputs and checkpoints. */
  val root: String = Graft.artifactDir(spark, "stream", gate)

  /** `name` under this run's root. */
  def path(name: String): String = s"$root/$name"

  /** Stage `feed` (and the `flush` frames, evaluated only when the
    * staging cache misses), start the gate's query over a parquet file
    * stream of `feed`'s schema, land every drop as one micro-batch and
    * stop the query. */
  def run(dir: String, feed: DataFrame, on: String,
      flush: => Seq[DataFrame] = Nil)(start: DataFrame => StreamingQuery): Unit = {
    val drops = stage(dir, feed, on, flush)
    val src = Files.createDirectories(Paths.get(path("src")))
    Drip.scope(spark, path("ckpt")) {
      val q = start(spark.readStream.schema(feed.schema).parquet(src.toString))
      try drops.zipWithIndex.foreach { case (f, i) =>
        Drip.dropAtomic(f, src, s"drop_$i.parquet")
        q.processAllAvailable()
      } finally q.stop()
    }
  }

  /** Commit one micro-batch's `rows` to `<root>/<out>/batch=<id>` through
    * the two-phase KvSink, with the batch id as the commit-log
    * transaction id: a replayed batch finds its id committed and
    * publishes nothing, so at-least-once replay is exactly-once output. */
  def commit(rows: DataFrame, out: String, id: Long): Unit =
    rows.write.format("graft.sources.KvSinkProvider")
      .option("path", s"${path(out)}/batch=$id").option("txnId", s"b$id")
      .mode("append").save()

  /** Every batch [[commit]] wrote under `out`, read back as one frame. */
  def committed(out: String, schema: String): DataFrame =
    spark.read.format("graft.sources.KvSourceProvider")
      .option("path", path(out)).option("recursive", "true")
      .option("schema", schema).load()

  /** The staged drop files in landing order: the feed's range partitions,
    * then one file per flush frame. */
  private def stage(dir: String, feed: DataFrame, on: String,
      flush: => Seq[DataFrame]): Seq[File] = {
    val cache = Paths.get(Graft.appDir(spark, "stage"), gate,
      dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val done = cache.resolve("_STAGED")
    if (!Files.exists(done)) {
      feed.repartitionByRange(Drip.Drops, col(on))
        .write.mode("overwrite").parquet(cache.resolve("feed").toString)
      flush.zipWithIndex.foreach { case (f, i) =>
        f.coalesce(1).write.mode("overwrite").parquet(cache.resolve(s"flush_$i").toString)
      }
      Files.createFile(done): Unit
    }
    def files(d: File): Seq[File] = d.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val flushDirs = cache.toFile.listFiles().toSeq
      .filter(_.getName.startsWith("flush_")).sortBy(_.getName.stripPrefix("flush_").toInt)
    files(cache.resolve("feed").toFile) ++ flushDirs.flatMap(files)
  }
}

object Drip {

  /** Range partitions each feed is staged as. */
  val Drops = 2

  /** State-store partitions of a drip run; see [[scope]]. */
  private val StatePartitions = 4

  def apply(spark: SparkSession, gate: String): Drip = new Drip(spark, gate)

  /** The session settings of a drip run, restored afterwards:
    *
    *  - Shuffle (and so state-store) partitions track the STATEFUL key
    *    cardinality of the live streams (720 hour-windows × 5 event types
    *    ≈ 3.6 k keys), not the session default sized for the big
    *    relational shuffles: each state-store partition pays per-batch
    *    fixed cost (delta file, commit, snapshot bookkeeping).
    *  - No checkpoint checksums. Spark 4.1 writes a companion checksum
    *    file for every checkpoint file by default — insurance for
    *    long-lived checkpoints on unreliable stores. A drip run's
    *    checkpoints are ephemeral, on local disk, in the per-run root,
    *    where the checksums only double the per-batch small-file count.
    *    A production deployment with durable checkpoints should leave
    *    them on.
    *  - No no-data micro-batches. They flush event-time state when the
    *    watermark advances without new input; every drip gate is built
    *    not to need them (the second flush drop forces a DATA batch after
    *    the advance), and at sf0.1 they were about half the batch count
    *    (7 batches for 4 drops on the outer-join gate), each paying full
    *    incremental planning and per-partition state commits. The
    *    converged sink is unchanged (oracle-gated; the StreamingSpec
    *    differentials run with the default on).
    *  - Checkpoints under `ckpt`, one per query name (or id). */
  private def scope[T](spark: SparkSession, ckpt: String)(body: => T): T =
    Graft.withConf(spark,
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.checkpointLocation" -> ckpt)(body)

  /** Publish one drop ATOMICALLY into a watched source directory: copy to
    * a dot-hidden temp (hidden names are outside the file stream source's
    * listing) and rename into place. A plain copy raced the always-on
    * micro-batch trigger at large SF — a multi-hundred-MB staged file
    * takes seconds to copy and the source's listing thread picked up the
    * torn file (FAILED_READ_FILE at sf10; invisible at sf0.01, where the
    * copy wins the race). */
  private def dropAtomic(src: File, dstDir: Path, name: String): Unit = {
    val tmp = dstDir.resolve(s".$name.tmp")
    Files.copy(src.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dstDir.resolve(name), StandardCopyOption.ATOMIC_MOVE): Unit
  }
}
