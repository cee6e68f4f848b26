package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB state-store knob for the live append streams (VERDICT r6
  * item 7): beyond scoping state partitions to key cardinality (the
  * drip harness's scope, streaming/Drip.scala), long-running stateful
  * queries move per-key state OFF the executor heap into RocksDB. This spec runs the
  * q_stream_live_append twin — watermarked tumbling aggregation, append
  * mode, late-row drops — under BOTH state store providers and asserts:
  *
  *  - identical emissions (provider choice must never change results);
  *  - BOUNDED state: windows the watermark has passed are EVICTED, so
  *    state rows track the open-window count instead of total history —
  *    the invariant that keeps a year-long stream from accreting a
  *    year of window state;
  *  - late rows behind the watermark are dropped under RocksDB too.
  *
  * rocksdbjni ships with Spark's jars, so the provider is exercised for
  * real — state files land in the checkpoint's rocksdb directory.
  */
class RocksDbStateSpec extends AnyFunSuite with SparkSessionFixture {

  private def ts(day: Int, hour: Int, minute: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:$minute%02d:00")

  /** Drives the append twin under `providerClass`, returning
    * (emitted rows, max state rows seen across batches, final state rows). */
  private def run(providerClass: String, sinkName: String)
      : (Seq[(String, Long)], Long, Long) = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    implicit val sqlCtx = s2.sqlContext
    import s2.implicits._
    val mem = MemoryStream[(Timestamp, Long)]
    val counts = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .count()
      .select(col("window.start").as("ws"), col("count"))
    val q: StreamingQuery = counts.writeStream.format("memory")
      .queryName(sinkName).outputMode("append").start()
    var maxState = 0L
    def stateRows: Long =
      Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    try {
      // 26 hourly windows, fed in order; the 1h watermark closes window
      // h once h+2 arrives, so open state stays at ~2 windows while the
      // total window count grows to 26 — bounded ≠ accreting
      for (h <- 0 until 24)
        { mem.addData((ts(1, h, 10), h.toLong)); q.processAllAvailable()
          maxState = math.max(maxState, stateRows) }
      mem.addData((ts(2, 0, 10), 100L)); q.processAllAvailable()
      maxState = math.max(maxState, stateRows)
      mem.addData((ts(2, 1, 10), 101L)); q.processAllAvailable()
      maxState = math.max(maxState, stateRows)
      // a row behind the watermark (day 1 hour 0) must be dropped
      mem.addData((ts(1, 0, 55), 999L)); q.processAllAvailable()
      val finalState = stateRows
      val got = s2.table(sinkName)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1)))
        .sorted.toSeq
      (got, maxState, finalState)
    } finally q.stop()
  }

  test("append twin: identical emissions and bounded, evicted state under both providers") {
    val hdfs = run(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "t_state_hdfs")
    val rocks = run(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "t_state_rocks")
    // provider choice never changes results
    assert(rocks._1 === hdfs._1)
    // every closed window emitted exactly once with its in-window count
    // (the late 999 row was dropped); the two open windows are absent
    val want = (0 until 24).map(h => (s"2024-01-01 ${f"$h%02d"}:00:00.0", 1L))
    assert(hdfs._1 === want)
    // state stayed bounded near the open-window count — far below the
    // 26 windows the stream produced — and eviction really happened
    for ((label, r) <- Seq("hdfs" -> hdfs, "rocksdb" -> rocks)) {
      assert(r._2 <= 6, s"$label: state accreted to ${r._2} rows")
      assert(r._3 <= 4, s"$label: final state ${r._3} rows not evicted")
    }
  }
}
