package perfbench

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

/** Digest and generator checks that need a Spark session. */
class SparkSpec extends AnyFunSuite {

  private lazy val spark = Graft.session("local[2]", 2)

  test("digest ignores row order and partitioning but not duplicates or values") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i, s"v$i", i * 0.5, Map(s"k$i" -> i)))
    val df = rows.toDF("a", "b", "c", "m")
    val d = Digest.of(df)
    assert(d.rows == 500)
    assert(Digest.of(df.orderBy(col("a").desc)) == d)
    assert(Digest.of(df.repartition(7)) == d)
    assert(Digest.of(scala.util.Random.shuffle(rows).toDF("a", "b", "c", "m")) == d)
    assert(Digest.of(df.union(df.limit(1))) != d)
    assert(Digest.of(df.withColumn("c", col("c") + 1)) != d)
    assert(Digest.parse(d.toString) == d)
  }

  test("the observed digest of a noop write equals the aggregated digest") {
    val df = spark.range(1000).selectExpr("id", "id % 7 AS k").orderBy("k")
    val (observed, obs) = Digest.observed(df)
    observed.write.format("noop").mode("overwrite").save()
    assert(Digest.await(obs) == Digest.of(df))
  }

  test("mr_pipeline inputs: same seed, same bytes; another seed, other bytes") {
    val a = MrInput.generate(7, 2000)
    val b = MrInput.generate(7, 2000)
    val c = MrInput.generate(8, 2000)
    assert(java.util.Arrays.equals(a.bytes, b.bytes))
    assert(!java.util.Arrays.equals(a.bytes, c.bytes))
    assert(a.records.forall(_._2.nonEmpty))
  }

  test("mr_pipeline folds agree with the naive evaluator and with Spark") {
    import spark.implicits._
    val in = MrInput.generate(3, 300)
    assert(Main.prefixCheck(spark, in).isEmpty)
    MrInput.shapes.foreach { s =>
      assert(MrInput.run(spark, s, spark.createDataset(in.records)) == in.expected(s), s)
    }
  }
}
