package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Evidence for the sketch-then-verify heavy-hitter shape
  * (q_heavy_hitters): on a skewed corpus the CMS candidate filter
  * removes the long tail BELOW the exchange, and one-sided error means
  * the exact verification pass still returns exactly the true heavy
  * set. The registry gate proves correctness on the near-uniform
  * corpus; this spec measures the prune where skew makes it matter. */
class CmsPruneSpec extends AnyFunSuite with SparkSessionFixture {

  test("zipf fixture: tail pruned below the shuffle, heavies exact") {
    import spark.implicits._
    // 5 heavy keys x 2000 rows + 5000 tail keys x 4 rows = 30k rows
    val heavy = (0L until 5L).flatMap(k => Seq.fill(2000)(k))
    val tail = (100L until 5100L).flatMap(k => Seq.fill(4)(k))
    val df = (heavy ++ tail).toDF("key")
    val n = df.count()
    val thresh = 1000L

    val cmsBytes = df
      .agg(expr("count_min_sketch(key, CAST(0.001 AS DOUBLE), " +
        "CAST(0.99 AS DOUBLE), 42)").as("cms"))
      .head.getAs[Array[Byte]]("cms")

    val candRows = df.filter(
      GraftFunctions.cmsEstimateNative(lit(cmsBytes), col("key")) > lit(thresh))
    // the prune: with eps = 0.001 the estimate error bound is
    // eps * n = 30, so every 4-row tail key estimates far below the
    // 1000 threshold — only heavy rows survive to the exchange
    val survivors = candRows.count()
    assert(survivors < n / 2,
      s"candidate filter kept $survivors of $n rows — no pruning happened")
    assert(survivors >= 10000L, "heavy rows must all survive (one-sided error)")

    val got = candRows.groupBy("key").agg(count(lit(1)).as("n"))
      .filter(col("n") > thresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L until 5L).map(_ -> 2000L).toMap
    assert(got == want, s"exact verify must return the true heavy set, got $got")
  }

  test("estimate is one-sided: never below the true count") {
    import spark.implicits._
    val df = (0L until 200L).flatMap(k => Seq.fill((k % 7 + 1).toInt)(k)).toDF("key")
    val cmsBytes = df
      .agg(expr("count_min_sketch(key, CAST(0.001 AS DOUBLE), " +
        "CAST(0.99 AS DOUBLE), 42)").as("cms"))
      .head.getAs[Array[Byte]]("cms")
    val bad = df.groupBy("key").agg(count(lit(1)).as("true_n"))
      .withColumn("est",
        GraftFunctions.cmsEstimateNative(lit(cmsBytes), col("key")))
      .filter(col("est") < col("true_n"))
      .count()
    assert(bad == 0L, s"$bad keys estimated BELOW their true count")
  }
}
