package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.CharHashExpression

/** Optimizer rule: recognize the composed higher-order-function form of
  * the engine's rolling hash —
  *
  *   aggregate(transform(split(s, ""), c -> ascii(c)::long),
  *             0L, (h, c) -> (h*131 + c) % 1000000007)
  *
  * (`PortableHash.charHash`, also what the DuckDB-twin SQL shape lowers
  * to) — and swap in the native codegen'd [[CharHashExpression]]. The
  * optimizer acts as the compatibility layer: users/SQL write the
  * portable composed form and still execute the tight JVM loop.
  *
  * Matching is SEMANTIC, not purely structural: a candidate subtree with
  * the right (aggregate ∘ transform ∘ split) skeleton is verified by
  * interpreted evaluation on probe strings against the native kernel;
  * only bit-identical candidates are rewritten, so a look-alike fold with
  * different constants is left untouched. */
class NativizeCharHash extends Rule[LogicalPlan] {

  private val probes = Seq("", "a", "hello world", "Zz9 µß")

  /** True iff replacing the string input with each probe literal makes
    * the composed expression evaluate exactly like the native hash. */
  private def semanticallyCharHash(agg: Expression, strInput: Expression): Boolean =
    probes.forall { p =>
      val candidate = agg.transformUp {
        case e if e.fastEquals(strInput) => Literal(UTF8String.fromString(p), StringType)
      }
      try candidate.eval(null) == CharHashExpression.hash(p)
      catch { case _: Exception => false }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case agg @ ArrayAggregate(
          ArrayTransform(StringSplit(strInput, Literal(delim, StringType), _), _),
          Literal(0L, LongType), _, _)
        if delim.toString.isEmpty && strInput.dataType == StringType &&
          agg.dataType == LongType && semanticallyCharHash(agg, strInput) =>
      CharHashExpression(strInput)
  }
}

/** Auto-nativization for the remaining composed PortableHash kernels:
  *
  *   minhashSig:  transform(sequence(0, k-1),
  *                  i -> array_min(transform(hashes, t -> perm(i, t))))
  *   gramHashes:  array_distinct(transform(sequence(1, size(th)-(n-1)),
  *                  i -> fold of th[i..i+n-1]))  over th = charHash'd tokens
  *   l2Quant:     aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, +)
  *                  — the k-means assignment distance (KMeansQuant)
  *
  * Matching follows the [[NativizeCharHash]] discipline — a structural
  * skeleton gate, then SEMANTIC verification by interpreted evaluation on
  * probe inputs against the native kernel; only bit-identical candidates
  * are rewritten, so perm-like folds with different constants survive
  * untouched.
  *
  * Null/edge contracts:
  *   - minhashSig: exact on EVERY input — the kernel skips null slots
  *     exactly like array_min, and the `[null × k]` cases (NULL input,
  *     empty or all-null set) collapse to a literal via If + Coalesce;
  *     verified by empty AND mixed-null probes.
  *   - gramHashes: token arrays are only accepted when provably free of
  *     null ELEMENTS (containsNull=false, or a split() constructor,
  *     which types containsNull=true but never emits null) — a null
  *     token would null-propagate through the composed fold into the
  *     output array, which the kernel's non-null output can't represent.
  *   - gramHashes: on fewer than n tokens the composed Spark form errors
  *     (sequence(1, size-(n-1)) runs DESCENDING when start > stop, then
  *     element_at(th, 0) is an invalid index), while the DuckDB twin's
  *     generate_series(1, 0) is EMPTY. The kernel implements the oracle's
  *     (empty) semantics, so the rewrite is exact wherever the composed
  *     form is defined and repairs the undefined corner to match the
  *     documented SQL-twin behavior. */
class NativizeHashKernels extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, IntegerType}
  import graft.functions.{GramHashesExpression, MinHashSigExpression, VecOps}

  private val hashProbes: Seq[Seq[Long]] =
    Seq(Seq(5L), Seq(1L, 2L, 3L), Seq(999999999L, 123456789L, 7L, 0L))
  private val tokenProbes: Seq[Seq[String]] =
    Seq(Seq("a", "b", "c", "d"), Seq("the", "the", "cat", "sat", "mat"),
      Seq("µß", "z9", "hello", "wörld"))

  private def intOf(v: Any): Option[Int] = v match {
    case i: Int => Some(i)
    case l: Long if l.isValidInt => Some(l.toInt)
    case _ => None
  }

  /** (start, stop) of a consecutive ascending integer range expression —
    * either a live `sequence(a, b)` call or the literal array that
    * ConstantFolding collapses it to (extraOptimizations run AFTER the
    * main optimizer batches, so static bounds arrive pre-folded). */
  private def seqBounds(e: Expression): Option[(Int, Int)] = e match {
    case Sequence(Literal(s, _), Literal(t, _), _, _) =>
      for { a <- intOf(s); b <- intOf(t) } yield (a, b)
    case Literal(ad: ArrayData, ArrayType(et, _)) if et == IntegerType || et == LongType =>
      val n = ad.numElements()
      if (n == 0) None
      else {
        val vals = (0 until n).map { i =>
          if (et == IntegerType) ad.getInt(i).toLong else ad.getLong(i)
        }
        val consecutive = vals.zipWithIndex.forall { case (v, i) => v == vals.head + i }
        if (consecutive && vals.head.isValidInt && vals.last.isValidInt)
          Some((vals.head.toInt, vals.last.toInt))
        else None
      }
    case _ => None
  }

  /** Start bound of a range whose stop may be dynamic (size(x) - c). */
  private def seqStart(e: Expression): Option[Int] = e match {
    case Sequence(Literal(s, _), _, _, _) => intOf(s)
    case _ => seqBounds(e).map(_._1)
  }

  /** Substitute `input` with a literal and interpretedly evaluate. */
  private def evalWith(expr: Expression, input: Expression, sub: Literal): Option[Any] = {
    val candidate = expr.transformUp {
      case e if e.fastEquals(input) => sub
    }
    try Option(candidate.eval(null)) catch { case _: Exception => None }
  }

  private def sameLongs(got: ArrayData, want: ArrayData): Boolean =
    got.numElements() == want.numElements() &&
      java.util.Arrays.equals(got.toLongArray(), want.toLongArray())

  private def semanticallyMinhash(whole: Expression, input: Expression, k: Int): Boolean = {
    val nonEmpty = hashProbes.forall { p =>
      evalWith(whole, input,
        Literal.create(p, ArrayType(LongType, containsNull = false))) match {
        case Some(ad: ArrayData) =>
          val want = VecOps.minhashSig(ArrayData.toArrayData(p.toArray), k)
          !ad.toObjectArray(LongType).contains(null) && sameLongs(ad, want)
        case _ => false
      }
    }
    // empty set: composed = [null × k] (array_min over empty is null)
    val empty = evalWith(whole, input,
      Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false))) match {
      case Some(ad: ArrayData) =>
        ad.numElements() == k && (0 until k).forall(ad.isNullAt)
      case _ => false
    }
    // mixed-null slots: composed array_min skips them; the kernel must too
    val mixed = evalWith(whole, input,
      Literal.create(Seq[Any](5L, null, 999999999L),
        ArrayType(LongType, containsNull = true))) match {
      case Some(ad: ArrayData) =>
        val want = VecOps.minhashSig(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array[Any](5L, null, 999999999L)), k)
        sameLongs(ad, want)
      case _ => false
    }
    nonEmpty && empty && mixed
  }

  private val l2Probes: Seq[(Seq[Long], Seq[Long])] = Seq(
    (Seq(0L), Seq(0L)),
    (Seq(1L, 2L, 3L), Seq(3L, 1L, 2L)),
    (Seq(-500000L, 700000L, 13L), Seq(700000L, -500000L, 12L)))

  // Unequal-length pair: the rewrite synthesizes If(size-equal, kernel,
  // NULL), so it is only sound when the COMPOSED form is itself NULL on
  // length mismatch. A lambda that swallows the zip_with padding null
  // (e.g. coalesce((x-y)*(x-y), 0L)) passes every equal-length probe yet
  // yields a non-null partial sum here — this probe rejects it.
  private val l2UnequalProbe: (Seq[Long], Seq[Long]) = (Seq(1L, 2L), Seq(3L))

  private def substituteL2(whole: Expression, a: Expression, b: Expression,
      pa: Seq[Long], pb: Seq[Long]): Expression = {
    val same = a.fastEquals(b)
    val litA = Literal.create(pa, ArrayType(LongType, containsNull = false))
    val litB = Literal.create(pb, ArrayType(LongType, containsNull = false))
    // TOP-DOWN substitution: one side may CONTAIN the other (e.g.
    // b = reverse(a)); the higher node must be replaced first, which
    // also erases the contained occurrence — transformUp would rewrite
    // the inner side and un-match the outer one
    whole.transformDown {
      case e if !same && e.fastEquals(b) => litB
      case e if e.fastEquals(a) => litA
    }
  }

  /** True iff the composed fold evaluates exactly like l2Quant on every
    * equal-length probe pair AND evaluates to NULL on an unequal-length
    * pair (the rewrite's else-branch hard-codes NULL for that case).
    * Self-distance (a ≡ b) substitutes one probe and can never see
    * unequal lengths, so the null probe is skipped there. */
  private def semanticallyL2(whole: Expression, a: Expression, b: Expression): Boolean = {
    val same = a.fastEquals(b)
    val equalLen = l2Probes.forall { case (pa, pb0) =>
      val pb = if (same) pa else pb0
      val want = VecOps.l2Quant(
        ArrayData.toArrayData(pa.toArray), ArrayData.toArrayData(pb.toArray))
      (try Option(substituteL2(whole, a, b, pa, pb).eval(null))
       catch { case _: Exception => None }).contains(want)
    }
    val nullOnUnequal = same || {
      val (pa, pb) = l2UnequalProbe
      (try Option(substituteL2(whole, a, b, pa, pb).eval(null))
       catch { case _: Exception => Some(Boolean.box(false)) }).isEmpty
    }
    equalLen && nullOnUnequal
  }

  private def semanticallyGram(whole: Expression, input: Expression, n: Int): Boolean =
    tokenProbes.forall { p =>
      evalWith(whole, input,
        Literal.create(p, ArrayType(StringType, containsNull = false))) match {
        case Some(ad: ArrayData) =>
          val probe = ArrayData.toArrayData(
            p.map(UTF8String.fromString).toArray[Any])
          sameLongs(ad, VecOps.gramHashes(probe, n))
        case _ => false
      }
    }

  private def isLongArray(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private def isStringArray(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  // INPUT arrays must be provably free of null ELEMENTS: the kernels read
  // slots with getLong/getUTF8String, while the composed HOF forms
  // null-propagate per element (array_min skips nulls, folds null out) —
  // and probe verification can't catch that divergence because probes are
  // non-null. containsNull=false proves it by type; split() types its
  // output containsNull=true but never actually emits null elements, so
  // it (over any non-null-producing child) is accepted by constructor.
  // Top-level NULL input is a separate case, handled by the rewrite
  // guards below.
  private def nullFreeElements(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, false) => true
    case ArrayType(_, true) => e match {
      case _: StringSplit => true
      case _: graft.functions.QuantVecExpression => true
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // minhashSig(hashes, k)
    case t @ ArrayTransform(
          seqE,
          LambdaFunction(ArrayMin(ArrayTransform(hashes, _)), _, _))
        if seqBounds(seqE).exists { case (a, b) => a == 0 && b >= 0 } &&
          isLongArray(hashes.dataType) &&
          semanticallyMinhash(t, hashes, seqBounds(seqE).get._2 + 1) =>
      val k = seqBounds(seqE).get._2 + 1
      // Exact on EVERY input: the kernel skips null slots like array_min
      // does, and returns NULL when nothing remains (empty or all-null
      // set) — where the composed form gives [null × k]; a NULL input
      // gives [null × k] too (array_min(transform(NULL)) per position).
      // So: null-out cases collapse to the literal via If + Coalesce.
      val nulls = Literal.create(Seq.fill[Any](k)(null),
        ArrayType(LongType, containsNull = true))
      If(IsNull(hashes), nulls,
        Coalesce(Seq(MinHashSigExpression(hashes, Literal(k, IntegerType)), nulls)))

    // l2Quant(a, b): aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0L, +) —
    // the k-means-assignment distance in its interpreted-HOF trap form.
    // Exactness: probes pin the arithmetic for equal lengths; on unequal
    // lengths the composed form is always NULL (zip_with null-pads, the
    // subtraction nulls, the fold propagates), so the guarded else-branch
    // is a null literal — which also covers NULL inputs (Size(null) makes
    // the predicate null, and If treats that as false). The else-branch
    // must NOT embed the original composed tree: transformAllExpressions
    // recurses into rewrite results, and a self-containing rewrite
    // re-matches forever. Null ELEMENTS are excluded statically
    // (nullFreeElements both sides) — probe verification can't see that
    // divergence.
    case agg @ ArrayAggregate(ZipWith(a, b, _), Literal(0L, LongType), _, _)
        if isLongArray(a.dataType) && isLongArray(b.dataType) &&
          nullFreeElements(a) && nullFreeElements(b) &&
          semanticallyL2(agg, a, b) => {
      val kernel = graft.functions.L2QuantExpression(a, b)
      if (a.fastEquals(b)) kernel
      else If(EqualTo(Size(a, legacySizeOfNull = false),
        Size(b, legacySizeOfNull = false)), kernel,
        Literal.create(null, LongType))
    }

    // gramHashes(tokens, n)
    case d @ ArrayDistinct(ArrayTransform(seqE, _))
        if seqStart(seqE).contains(1) && isLongArray(d.dataType) => {
      val tokenCands = d.collect {
        case e if isStringArray(e.dataType) && nullFreeElements(e) => e
      }.foldLeft(Seq.empty[Expression]) { (acc, e) =>
        if (acc.exists(_.fastEquals(e))) acc else acc :+ e
      }
      val hit = (for {
        tokens <- tokenCands.iterator
        n <- (2 to 4).iterator
        if semanticallyGram(d, tokens, n)
      } yield GramHashesExpression(tokens, Literal(n, IntegerType))).nextOption()
      hit.getOrElse(d)
    }
  }
}
