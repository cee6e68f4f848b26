package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.QueryProfile

/** Spill-awareness differential: under memory pressure the engine must
  * DEGRADE (window buffer + sorter spill to disk), not fail or
  * mis-aggregate. A dedicated session with spill thresholds forced far
  * below the ~20k-row per-group window buffers runs a running-sum
  * window + aggregation over sf0.01 lineitem; the run must actually
  * spill (diskBytesSpilled > 0 — otherwise the test proves nothing) and
  * its result must equal the shared roomy session's bit-for-bit. This is the graceful-degradation
  * half of the 100 TB story: partitions are SIZED to fit memory
  * (spark.sql.shuffle.partitions guidance in SURVEY §2.4), and when an
  * estimate is wrong the job still finishes correctly.
  */
class SpillSpec extends AnyFunSuite with SparkSessionFixture {

  private val dir = "/root/testdata/sf0.01"

  private def workload(s: SparkSession): Array[String] = {
    import org.apache.spark.sql.expressions.Window
    val l = graft.core.Graft.table(s, dir, "lineitem")
    // a running sum per returnflag: WindowExec must SORT and BUFFER each
    // ~20k-row group in one task (a plain sort before a hash aggregate
    // would be optimizer-eliminated — a window cannot be)
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    l.withColumn("running",
        sum(graft.core.Graft.fixed4(col("l_extendedprice"))).over(w))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), max(col("running")).as("total_units"))
      .orderBy(col("l_returnflag"))
      .collect().map(_.toString)
  }

  test("memory-starved sort/agg spills to disk and still matches the roomy run") {
    val want = workload(spark)

    // The starvation configs are SparkContext-level: getOrCreate would
    // silently reuse the fixture context and cap nothing — stop and
    // clear it first. This suite runs in its OWN forked JVM (build.sbt
    // testGrouping "spill-isolated"), so no other suite shares the
    // context being stopped.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    val tiny = graft.core.Graft.session("local[2]", 2, Seq(
      "spark.sql.warehouse.dir" ->
        (sys.props("java.io.tmpdir") + "/graft-warehouse-spill"),
      // force both spill paths long before the ~20k-row groups fit:
      // the window's row buffer and the sorter feeding it
      "spark.sql.windowExec.buffer.spill.threshold" -> "1000",
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "5000"))
    try {
      val (got, profile) = QueryProfile.measure(tiny, "spill workload")(workload(tiny))
      val spilled = profile.spillDiskBytes
      assert(spilled > 0,
        "the starved run never spilled — the test exercised nothing")
      assert(got.toSeq == want.toSeq,
        "spilled execution changed the result")
    } finally {
      tiny.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }
}
