package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{CharHashExpression, GramHashesExpression, MinHashSigExpression}
import graft.operators.PortableHash

/** The auto-nativization optimizer rules, installed on every session by
  * `Graft.session`: the composed HOF rolling hash must be rewritten to
  * the native kernel — and ONLY when semantically identical. */
class NativizeHashSpec extends AnyFunSuite with SparkSessionFixture {

  private def nativesIn[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, T]): Seq[T] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect(pf))

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").limit(50)

  test("composed charHash is rewritten to the native expression") {
    val df = docs.select(col("doc_id"),
      PortableHash.charHash(col("text")).as("h"))
    val optimized = df.queryExecution.optimizedPlan
    val natives = optimized.flatMap(_.expressions).flatMap(_.collect {
      case e: CharHashExpression => e })
    assert(natives.nonEmpty, s"not nativized:\n$optimized")
    // and values equal the interpreted composed form (rule off: fresh
    // expression evaluated via the kernel's reference implementation)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      assert(got(r.getLong(0)) == CharHashExpression.hash(r.getString(1)))
    }
  }

  test("a look-alike fold with different constants is left untouched") {
    // same skeleton, multiplier 137 instead of 131
    val lookalike = aggregate(
      transform(split(col("text"), ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * lit(137L) + c) % lit(PortableHash.P))
    val df = docs.select(lookalike.as("h"))
    val natives = df.queryExecution.optimizedPlan
      .flatMap(_.expressions).flatMap(_.collect {
        case e: CharHashExpression => e })
    assert(natives.isEmpty, "look-alike was wrongly nativized")
  }

  private lazy val hashed = docs
    .withColumn("tl", split(lower(col("text")), " "))
    .filter(size(col("tl")) >= 3)
    .withColumn("hs", transform(col("tl"), t => PortableHash.charHash(t)))

  test("composed minhashSig is rewritten to the native kernel, values unchanged") {
    val df = hashed.select(col("doc_id"),
      PortableHash.minhashSig(col("hs"), 16).as("sg"))
    assert(nativesIn(df) { case e: MinHashSigExpression => e }.nonEmpty,
      s"not nativized:\n${df.queryExecution.optimizedPlan}")
    // values must equal the kernel applied directly
    val direct = hashed.select(col("doc_id"),
      graft.functions.GraftFunctions.minHashSigNative(col("hs"), 16).as("sg_d"))
    val joined = df.join(direct, "doc_id")
    assert(joined.filter(col("sg") =!= col("sg_d")).count() === 0)
  }

  test("composed minhashSig with a different permutation offset is untouched") {
    // 7917 instead of 7919 in the permutation
    val lookalike = transform(sequence(lit(0), lit(15)),
      i => array_min(transform(col("hs"),
        t => ((lit(2L) * i + lit(1L)) * t + lit(7917L) * i + lit(1L)) % lit(PortableHash.P))))
    val df = hashed.select(lookalike.as("sg"))
    assert(nativesIn(df) { case e: MinHashSigExpression => e }.isEmpty,
      "look-alike minhash was wrongly nativized")
  }

  test("composed gramHashes is rewritten to the native kernel, values unchanged") {
    // the composed trigram form (as a SQL user would write the twin)
    val composed = array_distinct(
      transform(sequence(lit(1), size(col("hs")) - 2),
        i => ((element_at(col("hs"), i) * lit(131L) +
               element_at(col("hs"), i + 1)) % lit(PortableHash.P) * lit(131L) +
              element_at(col("hs"), i + 2)) % lit(PortableHash.P)))
    // the rule needs the token array visible inside the subtree, so
    // inline tl/hs rather than referencing the pre-projected column
    val tl = split(lower(col("text")), " ")
    val th = transform(tl, t => PortableHash.charHash(t))
    val inlined = array_distinct(
      transform(sequence(lit(1), size(th) - 2),
        i => ((element_at(th, i) * lit(131L) +
               element_at(th, i + 1)) % lit(PortableHash.P) * lit(131L) +
              element_at(th, i + 2)) % lit(PortableHash.P)))
    val df = docs.filter(size(split(lower(col("text")), " ")) >= 3)
      .select(col("doc_id"), inlined.as("hs3"))
    assert(nativesIn(df) { case e: GramHashesExpression => e }.nonEmpty,
      s"not nativized:\n${df.queryExecution.optimizedPlan}")
    val direct = docs.filter(size(split(lower(col("text")), " ")) >= 3)
      .select(col("doc_id"), graft.functions.GraftFunctions.gramHashesNative(
        split(lower(col("text")), " "), 3).as("hs_d"))
    val joined = df.join(direct, "doc_id")
    assert(joined.filter(col("hs3") =!= col("hs_d")).count() === 0)
    // the hs-column variant: tokens not in subtree → must stay composed
    val dfCol = hashed.select(composed.as("hs3"))
    assert(nativesIn(dfCol) { case e: GramHashesExpression => e }.isEmpty)
  }

  test("composed quantized-L2 fold is rewritten to graft_l2q, values unchanged") {
    // parquet-backed input: a local Seq would constant-fold the whole
    // plan to a LocalRelation and leave nothing to observe
    val emb = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val data = emb.select(col("vec_id").as("id"),
        graft.functions.GraftFunctions.quantVecNative(col("embedding"), 1e6).as("qa"))
      .withColumn("qb", reverse(col("qa")))
    def l2hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, t) => acc + t)
    val df = data.select(col("id"), l2hof(col("qa"), col("qb")).as("d"))
    assert(nativesIn(df) { case e: graft.functions.L2QuantExpression => e }.nonEmpty,
      s"not nativized:\n${df.queryExecution.optimizedPlan}")
    val direct = data.select(col("id"),
      graft.functions.GraftFunctions.l2qNative(col("qa"), col("qb")).as("d_d"))
    assert(df.join(direct, "id").filter(col("d") =!= col("d_d")).count() === 0)
    // self-distance rewrites too (no size guard needed)
    val dfSelf = data.select(l2hof(col("qa"), col("qa")).as("d"))
    assert(nativesIn(dfSelf) { case e: graft.functions.L2QuantExpression => e }.nonEmpty)
    assert(dfSelf.collect().forall(_.getLong(0) == 0L))
    // look-alike with a different combine — |x-y| fold — stays composed
    val lookalike = data.select(aggregate(
      zip_with(col("qa"), col("qb"), (x, y) => abs(x - y)),
      lit(0L), (acc, t) => acc + t).as("d"))
    assert(nativesIn(lookalike) { case e: graft.functions.L2QuantExpression => e }.isEmpty,
      "look-alike L2 was wrongly nativized")
    // null-swallowing lambda: coalesce((x-y)², 0) matches every
    // EQUAL-length probe bit-for-bit, but on unequal lengths the
    // zip_with padding null folds to a non-null partial sum — while the
    // rewrite's guard branch hard-codes NULL there. The unequal-length
    // probe must reject it.
    val swallow = data.select(aggregate(
      zip_with(col("qa"), slice(col("qb"), 1, 3),
        (x, y) => coalesce((x - y) * (x - y), lit(0L))),
      lit(0L), (acc, t) => acc + t).as("d"))
    assert(nativesIn(swallow) { case e: graft.functions.L2QuantExpression => e }.isEmpty,
      "null-swallowing L2 look-alike was wrongly nativized — the " +
        "If(size-equal, kernel, NULL) guard would change its value on " +
        "unequal-length inputs")
  }

  test("q_sql_auto_native's plan actually runs the kernels, not the composed lambdas") {
    val df = SparkEntry.queries("q_sql_auto_native")(
        spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan
    val kernels = plan.flatMap(_.expressions).flatMap(_.collect {
      case e: GramHashesExpression => e: Any
      case e: MinHashSigExpression => e: Any
    })
    assert(kernels.nonEmpty,
      s"the gated SQL ran composed lambdas — rule did not fire:\n$plan")
  }

  test("gram rewrite refuses token arrays that may hold null elements") {
    // when() makes elements nullable and it is not a split() constructor,
    // so no candidate survives the null-freeness guard (and the probe on
    // the inner split can't match the null-filtered semantics either)
    val tl = transform(split(lower(col("text")), " "),
      t => when(length(t) > 2, t))
    val th = transform(tl, t => PortableHash.charHash(t))
    val comp = array_distinct(transform(sequence(lit(1), size(th) - 1),
      i => (element_at(th, i) * lit(131L) +
            element_at(th, i + 1)) % lit(PortableHash.P)))
    val df = docs.select(comp.as("hs2"))
    assert(nativesIn(df) { case e: GramHashesExpression => e }.isEmpty,
      "nullable-element token array was wrongly nativized")
  }

  test("composed gramHashes with a different combine multiplier is untouched") {
    val tl = split(lower(col("text")), " ")
    val th = transform(tl, t => PortableHash.charHash(t))
    val lookalike = array_distinct(
      transform(sequence(lit(1), size(th) - 1),
        i => (element_at(th, i) * lit(137L) +
              element_at(th, i + 1)) % lit(PortableHash.P)))
    val df = docs.select(lookalike.as("hs2"))
    assert(nativesIn(df) { case e: GramHashesExpression => e }.isEmpty,
      "look-alike gram form was wrongly nativized")
  }
}
