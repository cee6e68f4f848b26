package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PortableHash

/** PortableHash determinism + range invariants — these are the values the
  * DuckDB oracle recomputes, so their stability IS the correctness gate's
  * foundation. */
class PortableHashSpec extends AnyFunSuite with SparkSessionFixture {

  test("charHash matches a JVM reference fold") {
    implicit val s = spark
    import s.implicits._
    val inputs = Seq("hello", "a", "", "spark sql", "zzzz zzzz")
    def ref(str: String): Long =
      str.foldLeft(0L)((h, c) => (h * 131 + c.toLong) % PortableHash.P)
    val got = inputs.toDF("s")
      .select(PortableHash.charHash(col("s")).as("h"))
      .collect().map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
    // Spark's split("") on "" yields [""], ascii("") = 0 → hash 0, same as
    // the empty fold.
    assert(got.toSeq == inputs.map(ref))
  }

  test("native graft_charhash == HOF charHash == JVM fold, and is SQL-callable") {
    implicit val s = spark
    import s.implicits._
    val inputs = Seq("hello", "a", "spark sql engine", "zz 99 !?", "The Quick")
    val rows = inputs.toDF("s")
      .select(
        PortableHash.charHash(col("s")).as("hof"),
        graft.functions.GraftFunctions.charHashNative(col("s")).as("native"),
        expr("graft_charhash(s)").as("sqlfn"))
      .collect()
    rows.zip(inputs).foreach { case (r, in) =>
      val ref = graft.functions.CharHashExpression.hash(in)
      assert(r.getLong(0) == ref && r.getLong(1) == ref && r.getLong(2) == ref,
        s"mismatch for '$in'")
    }
  }

  test("GraftExtensions injects graft_charhash at session build") {
    // the factory installs the extensions on every session it returns,
    // including the already-running one: no registration call needed
    val s2 = graft.core.Graft.session("local[2]", 2)
    val got = s2.sql("SELECT graft_charhash('hello') AS h").collect().head.getLong(0)
    assert(got == graft.functions.CharHashExpression.hash("hello"))
  }

  test("minhash signature values stay in [0, P)") {
    implicit val s = spark
    import s.implicits._
    val sig = Seq("the quick brown fox jumps over the lazy dog").toDF("s")
      .select(PortableHash.minhashSig(
        transform(split(col("s"), " "), t => PortableHash.charHash(t)), 16).as("sg"))
      .collect().head.getSeq[Long](0)
    assert(sig.length == 16)
    assert(sig.forall(v => v >= 0 && v < PortableHash.P))
  }

  test("lshBucket lands in [0, 2^planes) and is repartition-invariant") {
    implicit val s = spark
    import s.implicits._
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 6f)))
    val df = vecs.toDF("id", "v")
    val b1 = df.select(col("id"), PortableHash.lshBucket(col("v"), 4, 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = df.repartition(7).select(col("id"), PortableHash.lshBucket(col("v"), 4, 16).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 16))
  }

  test("cosine of identical vectors is 1.0 exactly; orthogonal is 0.0") {
    implicit val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1f, 2f, 3f, 4f), Array(1f, 2f, 3f, 4f)),
      (Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))).toDF("a", "b")
    val got = df.select(PortableHash.cosine(col("a"), col("b"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 0.0))
  }
}
