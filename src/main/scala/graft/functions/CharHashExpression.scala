package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

import org.apache.spark.sql.types.{DataType, DataTypes, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's polynomial rolling hash:
  *
  *   h = foldLeft(0)((h, cp) => (h * 131 + cp) % 1000000007)  over codepoints
  *
  * Semantically identical to the composed-HOF form in
  * `PortableHash.charHash` (split → ascii → aggregate) and to the DuckDB
  * oracle's `list_reduce` twin, but evaluated as ONE tight JVM loop with
  * full whole-stage codegen — no per-character lambda dispatch, no
  * intermediate array. This is the (b)-tier custom operator of the design
  * ladder: a scalar `Expression` with `doGenCode`, used when builtin
  * composition is semantically right but interpretively slow.
  *
  * Codepoint iteration (not UTF-16 units, not bytes) matches both
  * `functions.ascii` per split character and DuckDB's `ascii()`.
  */
case class CharHashExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_charhash"

  override protected def nullSafeEval(input: Any): Any =
    CharHashExpression.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      code"""
        java.lang.String ${ev.value}_s = $c.toString();
        long ${ev.value}_h = 0L;
        int ${ev.value}_i = 0;
        int ${ev.value}_n = ${ev.value}_s.length();
        while (${ev.value}_i < ${ev.value}_n) {
          int ${ev.value}_cp = ${ev.value}_s.codePointAt(${ev.value}_i);
          ${ev.value}_h = (${ev.value}_h * 131L + (long) ${ev.value}_cp) % 1000000007L;
          ${ev.value}_i += java.lang.Character.charCount(${ev.value}_cp);
        }
        ${ev.value} = ${ev.value}_h;
      """.toString)

  override protected def withNewChildInternal(newChild: Expression): CharHashExpression =
    copy(child = newChild)
}

object CharHashExpression {

  /** Reference JVM implementation (also used by interpreted eval). */
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 131L + cp.toLong) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
}

/** SparkSessionExtensions hook: injects graft's native functions, the
  * store's table functions, the AsOf planner strategy and optimizer rule,
  * and the Nativize rules at session build time. [[graft.core.Graft.session]]
  * installs it on every session through `withExtensions`; outside the
  * factory, config `spark.sql.extensions=graft.functions.GraftExtensions`
  * does the same. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        builder))
    }
    // table-valued surface: the store's change feed + commit history
    // from SQL text
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        graft.sources.KvTableChanges.name),
      graft.sources.KvTableChanges.info,
      graft.sources.KvTableChanges.builder))
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        graft.sources.KvTableHistory.name),
      graft.sources.KvTableHistory.info,
      graft.sources.KvTableHistory.builder))
    ext.injectTableFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(
        graft.sources.KvTableFiles.name),
      graft.sources.KvTableFiles.info,
      graft.sources.KvTableFiles.builder))
    // tier (c): whole-operator plan nodes (plans/AsOfJoin)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => new graft.plans.AsOfFilterPushdown)
    // auto-nativization: composed HOF hash → codegen'd kernel
    ext.injectOptimizerRule(_ => new graft.plans.NativizeCharHash)
    ext.injectOptimizerRule(_ => new graft.plans.NativizeHashKernels)
  }
}

/** Column access for graft's native functions (SURVEY §2.2 UDF surface,
  * custom-operator tier (b)). On a session with [[GraftExtensions]],
  * `graft_charhash` is callable from SQL text and via
  * [[GraftFunctions.charHashNative]] — and, unlike a Scala UDF,
  * participates in whole-stage codegen and constant folding. */
object GraftFunctions {

  /** (name, implementing class, builder) for every graft native function,
    * injected by [[GraftExtensions]]. */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_charhash", classOf[CharHashExpression],
      (c: Seq[Expression]) => CharHashExpression(c.head)),
    ("graft_quantdot", classOf[QuantDotExpression],
      (c: Seq[Expression]) => QuantDotExpression(c(0), c(1), c(2))),
    ("graft_cosine", classOf[CosineExpression],
      (c: Seq[Expression]) => CosineExpression(c(0), c(1))),
    ("graft_l2q", classOf[L2QuantExpression],
      (c: Seq[Expression]) => L2QuantExpression(c(0), c(1))),
    ("graft_bpe_merge", classOf[BpeMergeExpression],
      (c: Seq[Expression]) => BpeMergeExpression(c(0), c(1), c(2))),
    ("graft_bpe_merge_all", classOf[BpeMergeAllExpression],
      (c: Seq[Expression]) => BpeMergeAllExpression(c(0), c(1), c(2))),
    ("graft_quantvec", classOf[QuantVecExpression],
      (c: Seq[Expression]) => QuantVecExpression(c(0), c(1))),
    ("graft_quantvecnorm", classOf[QuantVecNormExpression],
      (c: Seq[Expression]) => QuantVecNormExpression(c(0), c(1))),
    ("graft_vecsub", classOf[VecSubExpression],
      (c: Seq[Expression]) => VecSubExpression(c(0), c(1))),
    ("graft_lshbucket", classOf[LshBucketExpression],
      (c: Seq[Expression]) => LshBucketExpression(c(0), c(1))),
    ("graft_simhash", classOf[SimHashExpression],
      (c: Seq[Expression]) => SimHashExpression(c.head)),
    ("graft_mingram", classOf[MinGramHashExpression],
      (c: Seq[Expression]) => MinGramHashExpression(c(0), c(1))),
    ("graft_gramhashes", classOf[GramHashesExpression],
      (c: Seq[Expression]) => GramHashesExpression(c(0), c(1))),
    ("graft_gramseq", classOf[GramSeqExpression],
      (c: Seq[Expression]) => GramSeqExpression(c(0), c(1))),
    ("graft_cms_estimate", classOf[CmsEstimateExpression],
      (c: Seq[Expression]) => CmsEstimateExpression(c(0), c(1))),
    ("graft_minhashsig", classOf[MinHashSigExpression],
      (c: Seq[Expression]) => MinHashSigExpression(c(0), c(1))),
    ("graft_tokstats", classOf[TokStatsExpression],
      (c: Seq[Expression]) => TokStatsExpression(c(0), c(1))),
    ("graft_lowerbound", classOf[LowerBoundExpression],
      (c: Seq[Expression]) => LowerBoundExpression(c(0), c(1))),
    ("graft_zorder", classOf[ZOrderExpression],
      (c: Seq[Expression]) => ZOrderExpression(c(0), c(1))),
    // Spark's own runtime-filter kernels (catalyst BloomFilterAggregate /
    // BloomFilterMightContain), surfaced as callable functions so queries
    // can build EXPLICIT semi-join reduction filters: args are the
    // xxhash64 of the key (both sides), estimated item count, and filter
    // bits. Registration-only — no new expression code to maintain.
    ("graft_bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      (c: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          c(0), c(1), c(2))),
    ("graft_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      (c: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1))),
  )

  import org.apache.spark.sql.functions.{call_function, lit}

  /** Codegen'd drop-in for PortableHash.charHash on hot paths. */
  def charHashNative(c: Column): Column =
    call_function("graft_charhash", c)

  /** Codegen'd drop-ins for the PortableHash vector/text kernels. */
  def quantDotNative(a: Column, b: Column, mult: Double = 1e9): Column =
    call_function("graft_quantdot", a, b, lit(mult))
  def cosineNative(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)
  def l2qNative(a: Column, b: Column): Column =
    call_function("graft_l2q", a, b)
  def bpeMergeNative(s: Column, l: Column, r: Column): Column =
    call_function("graft_bpe_merge", s, l, r)

  def bpeMergeAllNative(s: Column, ls: Column, rs: Column): Column =
    call_function("graft_bpe_merge_all", s, ls, rs)
  def quantVecNative(v: Column, mult: Double): Column =
    call_function("graft_quantvec", v, lit(mult))
  def quantVecNormNative(v: Column, mult: Double): Column =
    call_function("graft_quantvecnorm", v, lit(mult))
  def vecSubNative(a: Column, b: Column): Column =
    call_function("graft_vecsub", a, b)
  def lshBucketNative(v: Column, nPlanes: Int): Column =
    call_function("graft_lshbucket", v, lit(nPlanes))
  def simHashNative(tokens: Column): Column =
    call_function("graft_simhash", tokens)
  def minGramHashNative(text: Column, gram: Int = 8): Column =
    call_function("graft_mingram", text, lit(gram))
  def gramHashesNative(tokens: Column, n: Int): Column =
    call_function("graft_gramhashes", tokens, lit(n))
  def gramSeqNative(tokens: Column, n: Int): Column =
    call_function("graft_gramseq", tokens, lit(n))
  def cmsEstimateNative(sketchBytes: Column, key: Column): Column =
    call_function("graft_cms_estimate", sketchBytes, key)
  def minHashSigNative(hashes: Column, k: Int): Column =
    call_function("graft_minhashsig", hashes, lit(k))
  def tokStatsNative(tokens: Column, stops: Column): Column =
    call_function("graft_tokstats", tokens, stops)
  def zorderNative(a: Column, b: Column): Column =
    call_function("graft_zorder", a, b)
}
