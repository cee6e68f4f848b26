package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured data-skipping win of the Z-order layout (q_zorder_layout's
  * scale rationale): the same table written (a) sorted by one column and
  * (b) sorted by the Morton curve of two columns, scanned with pushed
  * predicates. Parquet prunes row groups by min/max stats, and the
  * scan's output-row metric counts rows surviving that pruning. A
  * single-column sort is selective in its own dimension ONLY: a
  * predicate on the second dimension prunes nothing, and a
  * two-dimensional box degrades to its first-dimension selectivity. The
  * Z-order layout stays selective in both. Pinned as measured ratios —
  * layout claims should be measurements, not assertions. */
class ZOrderLayoutSpec extends AnyFunSuite with SparkSessionFixture {

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect() // execute: metrics populate
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: inner.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }
      .get.metrics("numOutputRows").value
  }

  test("z-order stays selective in both dimensions; a single-column sort does not") {
    val s2 = spark.newSession()
    val n = 200000L
    // two independent uniform dimensions in [0, 10000)
    val data = s2.range(0, n).select(
      col("id"),
      pmod(hash(col("id")), lit(10000)).cast("long").as("x"),
      pmod(hash(col("id") * 7 + 3), lit(10000)).cast("long").as("y"))
    val base = Files.createTempDirectory("graft_zorder").toFile
    base.deleteOnExit()
    val linear = s"$base/linear"
    val zorder = s"$base/zorder"
    // tiny row groups so one file holds MANY groups and min/max pruning
    // has resolution (the default 128 MB block = 1 group = no pruning)
    def write(df: DataFrame, path: String): Unit =
      df.coalesce(1).write.option("parquet.block.size", 8192).parquet(path)
    write(data.orderBy("x"), linear)
    write(data
      .withColumn("z", call_function("graft_zorder", col("x"), col("y")))
      .orderBy("z").drop("z"), zorder)

    def rows(path: String, cond: org.apache.spark.sql.Column): Long =
      scanOutputRows(s2.read.parquet(path).filter(cond))

    // case 1: predicate on the SECOND dimension only — the single-column
    // sort has random y inside every row group, so stats prune nothing
    val yOnly = col("y").between(7000, 7999)
    val (linY, zY) = (rows(linear, yOnly), rows(zorder, yOnly))
    info(s"y-only predicate: linear=$linY zorder=$zY rows past pruning")
    assert(linY >= (n * 9) / 10, "expected ~no pruning on the linear layout")
    assert(zY * 2 <= linY,
      s"z-order read $zY vs linear $linY on a second-dimension predicate")

    // case 2: a 10% x 10% box — linear degrades to its x selectivity,
    // z-order multiplies both (with curve-fragmentation overhead)
    val box = col("x").between(4000, 4999) && col("y").between(7000, 7999)
    val (linBox, zBox) = (rows(linear, box), rows(zorder, box))
    info(s"2-D box predicate: linear=$linBox zorder=$zBox rows past pruning")
    assert(zBox * 3 <= linBox,
      s"z-order read $zBox vs linear $linBox on a 2-D box predicate")

    // correctness: identical result sets from both layouts
    val got = Seq(linear, zorder).map(p =>
      s2.read.parquet(p).filter(box).orderBy("id")
        .collect().map(_.toString).toSeq)
    assert(got(0) === got(1))
    assert(got(0).nonEmpty)
  }
}
