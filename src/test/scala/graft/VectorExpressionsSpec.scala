package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, VecOps}
import graft.operators.PortableHash

/** Native vector kernels (functions/VectorExpressions) must agree with the
  * composed higher-order-function reference forms in PortableHash on real
  * data — the composed forms are the DuckDB-oracle-twinned semantics, so
  * agreement here plus the oracle gate pins the native kernels down. */
class VectorExpressionsSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  private def emb = {
    spark.read.parquet(s"$sf/embeddings.parquet")
  }

  test("qround matches DuckDB round-half-away-from-zero on binary doubles") {
    assert(VecOps.qround(0.5) === 1L)
    assert(VecOps.qround(-0.5) === -1L)
    assert(VecOps.qround(2.5) === 3L)
    assert(VecOps.qround(-2.5) === -3L)
    // the double just below 0.5: BigDecimal-style decimal rounding and
    // naive floor(x+0.5) both get this wrong in one direction or another
    assert(VecOps.qround(0.49999999999999994) === 0L)
    assert(VecOps.qround(-0.49999999999999994) === 0L)
    assert(VecOps.qround(123456789.49999999) === 123456789L)
  }

  test("cosineNative equals the composed ordered-fold cosine bit-for-bit") {
    val df = emb.limit(200)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(emb.limit(5).select(col("embedding").as("qv")))
      .withColumn("c_native", GraftFunctions.cosineNative(col("qv"), col("embedding")))
      .withColumn("c_hof", PortableHash.cosine(col("qv"), col("embedding")))
    assert(df.filter(col("c_native") =!= col("c_hof")).count() === 0)
  }

  test("lshBucketNative equals the composed lshBucket on all vectors") {
    Seq(4, 6).foreach { planes =>
      val df = emb
        .withColumn("b_native", GraftFunctions.lshBucketNative(col("embedding"), planes))
        .withColumn("b_hof", PortableHash.lshBucket(col("embedding"), planes, 64))
      assert(df.filter(col("b_native") =!= col("b_hof")).count() === 0)
      val range = df.agg(min("b_native"), max("b_native")).head()
      assert(range.getLong(0) >= 0L && range.getLong(1) < (1L << planes))
    }
  }

  test("quantVecNormNative equals the composed normalized quantizer bit-for-bit") {
    // the composed reference form KMeansQuant.quantizeNormalized replaced
    // (r16): per-element round(x / sqrt(ordered-fold dot(v,v)) * 1e6)
    def composed(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val nrm = sqrt(PortableHash.dot(v, v))
      transform(v, x => round(x.cast("double") / nrm * lit(1e6), 0).cast("long"))
    }
    val df = emb
      .withColumn("q_native",
        GraftFunctions.quantVecNormNative(col("embedding"), 1e6))
      .withColumn("q_hof", composed(col("embedding")))
    assert(df.filter(col("q_native") =!= col("q_hof")).count() === 0)
    assert(df.count() > 0)
  }

  test("quantDotNative(v, v) equals the exploded quantized norm") {
    val df = emb
      .withColumn("nq_native",
        GraftFunctions.quantDotNative(col("embedding"), col("embedding")))
      .withColumn("nq_hof",
        aggregate(
          zip_with(col("embedding"), col("embedding"),
            (x, y) => round(x.cast("double") * y.cast("double") * lit(1e9), 0).cast("long")),
          lit(0L), (a, x) => a + x))
    assert(df.filter(col("nq_native") =!= col("nq_hof")).count() === 0)
  }

  test("simHashNative equals the per-bit sign-aggregation reference") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val native = docs
      .withColumn("sh", GraftFunctions.simHashNative(split(lower(col("text")), " ")))
      .select("doc_id", "sh")
    // reference: exploded tokens → per-bit ±1 sums → sign bits
    val tok = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("t"))
      .withColumn("h", GraftFunctions.charHashNative(col("t")))
    val ref = tok
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(PortableHash.bit(col("h"), col("j")) * lit(2L) - lit(1L)).as("sj"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sj") > 0, expr("shiftleft(1L, j)"))
        .otherwise(lit(0L))).as("sh_ref"))
    val joined = native.join(ref, "doc_id")
    assert(joined.filter(col("sh") =!= col("sh_ref")).count() === 0)
  }

  test("gramHashes + minhashSig equal the composed PortableHash forms") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("tl", split(lower(col("text")), " "))
      .filter(size(col("tl")) >= 3)
    val native = docs
      .withColumn("hs", GraftFunctions.gramHashesNative(col("tl"), 3))
      .withColumn("sg", GraftFunctions.minHashSigNative(col("hs"), 16))
    val composed = native
      .withColumn("th", transform(col("tl"),
        t => GraftFunctions.charHashNative(t)))
      .withColumn("hs_ref", array_distinct(
        transform(sequence(lit(1), size(col("tl")) - 2),
          i => ((element_at(col("th"), i) * lit(131L) +
                 element_at(col("th"), i + 1)) % lit(PortableHash.P) * lit(131L) +
                element_at(col("th"), i + 2)) % lit(PortableHash.P))))
      .withColumn("sg_ref", PortableHash.minhashSig(col("hs_ref"), 16))
    assert(composed.filter(
      col("hs") =!= col("hs_ref") || col("sg") =!= col("sg_ref")).count() === 0)
  }

  test("tokStatsNative equals the composed HOF token statistics") {
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
    val litArr = array(stops.map(lit): _*)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("tl", split(lower(col("text")), " "))
      .withColumn("ts", GraftFunctions.tokStatsNative(col("tl"), litArr))
      // composed reference forms — the oracle-twinned semantics
      .withColumn("n_ref", size(col("tl")).cast("long"))
      .withColumn("chars_ref",
        aggregate(transform(col("tl"), t => length(t).cast("long")), lit(0L),
          (a, x) => a + x))
      .withColumn("stops_ref",
        size(filter(col("tl"), t => array_contains(litArr, t))).cast("long"))
    assert(docs.filter(
      col("ts.token_count") =!= col("n_ref") ||
      col("ts.char_sum") =!= col("chars_ref") ||
      col("ts.stop_hits") =!= col("stops_ref")).count() === 0)
    // multibyte codepoints: char_sum counts codepoints like length()
    val row = spark.sql(
      "SELECT graft_tokstats(array('héllo', 'wörld', '☃'), array('x')) AS ts")
      .select("ts.token_count", "ts.char_sum", "ts.stop_hits").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((3L, 11L, 0L)))
  }

  test("null-element contracts: minhashSig skips null slots, tokStats nulls out") {
    // minhash over a null-slotted set == the composed array_min form,
    // which skips nulls (and so does DuckDB's list_min)
    val r = spark.sql(
      """SELECT graft_minhashsig(array(CAST(5 AS BIGINT), NULL,
        |                             CAST(999999999 AS BIGINT)), 4) AS sg,
        |  transform(sequence(0, 3), i -> array_min(transform(
        |    array(CAST(5 AS BIGINT), NULL, CAST(999999999 AS BIGINT)),
        |    t -> ((2L*CAST(i AS BIGINT)+1L)*t + 7919L*CAST(i AS BIGINT)+1L)
        |         % 1000000007L))) AS ref""".stripMargin).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    // all-null and empty sets give a NULL signature (oracle: list_min -> NULL)
    val n2 = spark.sql(
      "SELECT graft_minhashsig(array(CAST(NULL AS BIGINT)), 4) AS a, " +
      "graft_minhashsig(array_remove(array(CAST(1 AS BIGINT)), 1), 4) AS b").head()
    assert(n2.isNullAt(0) && n2.isNullAt(1))
    // tokStats: a null token element nulls the whole struct, not a crash
    val t = spark.sql(
      "SELECT graft_tokstats(array('a', CAST(NULL AS STRING)), array('x')) AS ts").head()
    assert(t.isNullAt(0))
  }

  test("minGramHashNative: windowed min of charHash-style gram hashes") {
    // hand-computable check plus the sentinel path
    assert(VecOps.minGramHash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abcdefg"), 8) === -1L)
    val s = "abcdefgh"
    val expected = {
      var h = 0L
      s.foreach(c => h = (h * 131L + c.toLong) % VecOps.P)
      h
    }
    assert(VecOps.minGramHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 8) === expected)
    // sliding: min over the two windows of "abcdefghi"
    val s2 = "abcdefghi"
    def gram(str: String): Long = {
      var h = 0L
      str.foreach(c => h = (h * 131L + c.toLong) % VecOps.P)
      h
    }
    assert(VecOps.minGramHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s2), 8) ===
      math.min(gram("abcdefgh"), gram("bcdefghi")))
  }
}
