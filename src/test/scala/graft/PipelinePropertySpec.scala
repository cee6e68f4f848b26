package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.pipeline.Pipeline

/** Property-based differential testing: Spark execution vs the naive
  * collections evaluator — the reference's load-bearing test idea
  * (/root/reference/test/Generator.hs:83-92), with the degenerate
  * generators fixed (SURVEY §5.2): random data AND random pipeline shape,
  * sorted-compare. ScalaCheck is driven directly (scalatestplus isn't in
  * the offline artifact cache).
  */
class PipelinePropertySpec extends AnyFunSuite with SparkSessionFixture {

  // reference: withMaxSuccess 15 (test/Generator.hs:84)
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15).withWorkers(1), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  private val genKV: Gen[(String, String)] = for {
    k <- Gen.oneOf("", "a", "b", "k1", "k2")
    n <- Gen.choose(0, 8)
    v <- Gen.stringOfN(n, Gen.alphaLowerChar)
  } yield (k, v)

  private val genData: Gen[List[(String, String)]] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, genKV))

  /** Pool of order-insensitive (String,Int)→(String,Int) stages (value
    * order within a key is unspecified in both engines — Pipeline doc). */
  private type Stage =
    Pipeline[String, String, String, Int] => Pipeline[String, String, String, Int]

  private def stages(implicit s: org.apache.spark.sql.SparkSession): Gen[Stage] = {
    import s.implicits._
    val pool: Seq[Stage] = Seq(
      (p: Pipeline[String, String, String, Int]) =>
        p.mapper { case (k, v) => Seq((k, v + 1)) },
      p => p.mapper { case (k, v) => if (v % 2 == 0) Seq((k, v)) else Seq.empty },
      p => p.mapper { case (k, v) => Seq((k, v), (k + "x", v * 2)) },
      p => p.reducer((_, vs) => Seq(vs.sum)),
      p => p.reducer((_, vs) => Seq(vs.max, vs.min)),
      p => p.reducer((_, vs) => if (vs.size > 1) Seq(vs.size) else Seq.empty),
      p => p.combiner(_ + _),
      p => p.combiner(math.max),
      p => p.repartitionByKey(3))
    Gen.oneOf(pool)
  }

  test("random pipeline shape: Spark == naive evaluator (sorted)") {
    implicit val s = spark
    import s.implicits._
    val genPipe: Gen[Pipeline[String, String, String, Int]] = for {
      n <- Gen.choose(1, 5)
      ss <- Gen.listOfN(n, stages)
    } yield ss.foldLeft(
      Pipeline.mapper[String, String, String, Int] { case (_, v) =>
        v.map(c => (c.toString, 1))
      })((p, st) => st(p))

    check(Prop.forAll(genData, genPipe) { (data, pipe) =>
      pipe.run(data).sorted == pipe.runLocal(data).sorted
    })
  }

  test("word-count equivalence on random corpora") {
    implicit val s = spark
    import s.implicits._
    val pipe = Pipeline
      .mapper[String, String, String, Int] { case (_, v) =>
        v.map(c => (c.toString, 1))
      }
      .reducer[Int]((_, vs) => Seq(vs.sum))
    check(Prop.forAll(genData) { data =>
      val got = pipe.run(data).sorted
      val exp = data.flatMap(_._2).groupBy(_.toString).view
        .mapValues(_.size).toSeq.sorted.toList
      got == exp
    })
  }

  test("combiner past the in-task fold cap: Spark == naive evaluator") {
    implicit val s = spark
    import s.implicits._
    // one partition holding 3.5 caps of distinct keys, each seen twice:
    // the fold flushes several times and re-meets keys it already emitted
    val keys = (0 until Pipeline.FoldCap * 7 / 2).map(i => s"k$i")
    val data = keys.map(k => (k, 1)) ++ keys.reverse.map(k => (k, 2))
    val pipe = Pipeline[String, Int]().combiner(_ + _)
    val got = pipe(spark.createDataset(data).coalesce(1)).collect().toSeq.sorted
    assert(got == pipe.runLocal(data).sorted)
    assert(got.size == keys.size && got.forall(_._2 == 3))
  }

  test("combiner over null values: Spark == naive evaluator (sorted)") {
    implicit val s = spark
    import s.implicits._
    // null-tolerant max: associative and commutative, null is its identity
    val maxOrNull: (String, String) => String = (a, b) =>
      if (a == null) b else if (b == null) a else if (a >= b) a else b
    val genNullable: Gen[List[(String, String)]] = genData.map(_.map {
      case (k, v) => (k, if (v.length % 3 == 0) null else v)
    })
    val pipe = Pipeline[String, String]().combiner(maxOrNull)
    check(Prop.forAll(genNullable) { data =>
      pipe.run(data).sorted == pipe.runLocal(data).sorted
    })
  }

  test("reducer past the in-task cap: Spark == naive evaluator and closed form") {
    implicit val s = spark
    import s.implicits._
    // one partition holding 3.5 caps of values over half a cap of keys,
    // each key once per round: every flush re-meets keys it already emitted
    val keys = (0 until Pipeline.FoldCap / 2).map(i => s"k$i")
    val rounds = 7
    val data = (0 until rounds).flatMap(r => keys.map(k => (k, r)))
    val pipe = Pipeline[String, Int]().reducer[Int]((_, vs) => Seq(vs.sum, vs.size))
    val got = pipe(spark.createDataset(data).coalesce(1)).collect().toSeq.sorted
    assert(got == pipe.runLocal(data).sorted)
    val sum = rounds * (rounds - 1) / 2
    assert(got == keys.flatMap(k => Seq((k, sum), (k, rounds))).sorted)
  }

  test("reducer over null values: Spark == naive evaluator (sorted)") {
    implicit val s = spark
    import s.implicits._
    val genNullable: Gen[List[(String, String)]] = genData.map(_.map {
      case (k, v) => (k, if (v.length % 3 == 0) null else v)
    })
    // multi-output and order-insensitive: the null count, then the
    // non-null values in sorted order
    val pipe = Pipeline[String, String]().reducer[String]((_, vs) =>
      Seq(vs.count(_ == null).toString, vs.filter(_ != null).sorted.mkString(",")))
    check(Prop.forAll(genNullable) { data =>
      pipe.run(data).sorted == pipe.runLocal(data).sorted
    })
  }
}
