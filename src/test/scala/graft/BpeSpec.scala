package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.VecOps

/** BPE merge-training semantics: the graft_bpe_merge kernel must be
  * canonical leftmost-greedy non-overlapping merge (back-to-back and
  * self-run cases included — the ones single-pass replace() breaks),
  * and the full training loop must equal a collections trainer on
  * random corpora (the reference's naive-evaluator discipline). */
class BpeSpec extends AnyFunSuite with SparkSessionFixture {

  private def mergeStr(s: String, l: String, r: String): String =
    VecOps.bpeMerge(UTF8String.fromString(s), UTF8String.fromString(l),
      UTF8String.fromString(r)).toString

  /** Canonical merge on a symbol list — the executable definition. */
  private def mergeLocal(syms: List[String], l: String, r: String): List[String] =
    syms match {
      case a :: b :: rest if a == l && b == r => (l + r) :: mergeLocal(rest, l, r)
      case a :: rest => a :: mergeLocal(rest, l, r)
      case Nil => Nil
    }

  private def wrap(syms: Seq[String]): String = syms.mkString(" ", " ", " ")

  test("kernel: self-runs and back-to-back pairs merge canonically") {
    assert(mergeStr(wrap(Seq("a", "a", "a", "a")), "a", "a") ==
      wrap(Seq("aa", "aa")))
    assert(mergeStr(wrap(Seq("a", "a", "a")), "a", "a") ==
      wrap(Seq("aa", "a")))
    assert(mergeStr(wrap(Seq("a", "b", "a", "b")), "a", "b") ==
      wrap(Seq("ab", "ab")))
    assert(mergeStr(wrap(Seq("x", "a", "b", "b", "c")), "b", "b") ==
      wrap(Seq("x", "a", "bb", "c")))
    assert(mergeStr(wrap(Seq("e", "r")), "e", "r") == wrap(Seq("er")))
    // multi-char symbols (later rounds)
    assert(mergeStr(wrap(Seq("er", "er", "er")), "er", "er") ==
      wrap(Seq("erer", "er")))
    // no occurrence: unchanged
    assert(mergeStr(wrap(Seq("a", "c")), "a", "b") == wrap(Seq("a", "c")))
  }

  test("kernel == canonical list merge on random symbol strings") {
    // overlap-prone alphabet: l prefix-of r, r suffix-of l, self-runs —
    // the cases where the kernel's resumed (non-restart) scan could
    // diverge from the canonical definition if its no-earlier-match
    // argument were wrong
    val sym = Gen.oneOf("a", "b", "c", "ab", "bb", "aa", "aaa", "ba")
    val prop = Prop.forAll(Gen.listOfN(12, sym), sym, sym) { (syms, l, r) =>
      mergeStr(wrap(syms), l, r) == wrap(mergeLocal(syms, l, r))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  /** Collections BPE trainer: same rounds, same tie-break, same
    * early stop on pair exhaustion. */
  private def trainLocal(words: Seq[List[String]], rounds: Int)
      : Seq[(String, String, Long)] = {
    var ws = words
    val out = Seq.newBuilder[(String, String, Long)]
    var stop = false
    for (t <- 1 to rounds if !stop) {
      val counts = ws.flatMap(w => w.zip(w.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (t < rounds) ws = ws.map(w => mergeLocal(w, l, r))
        out += ((l, r, c))
      }
    }
    out.result()
  }

  test("training loop == collections trainer on a random corpus") {
    val word = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
    val corpus = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, word))
    val s = spark
    import s.implicits._
    val prop = Prop.forAll(corpus, Gen.chooseNum(1, 3)) { (words, rounds) =>
      val expect = trainLocal(words, rounds)
      var df = words.map(w => w.mkString(" ", " ", " ")).toDF("s")
      val got = Seq.newBuilder[(String, String, Long)]
      var stop = false
      for (t <- 1 to rounds if !stop) {
        val top = df.select(split(trim(col("s")), " ").as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("l"), col("r")).limit(1)
          .collect()
        if (top.isEmpty) stop = true
        else {
          val row = top(0)
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (t < rounds)
            df = df.select(graft.functions.GraftFunctions
              .bpeMergeNative(col("s"), lit(l), lit(r)).as("s"))
          got += ((l, r, c))
        }
      }
      got.result() == expect
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("q_bpe_train runs green on sf0.001") {
    val out = graft.SparkEntry.queries("q_bpe_train")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 4)
    // merges are learned in non-increasing count order on a static corpus
    val cnts = out.sortBy(_.getLong(0)).map(_.getLong(4))
    assert(cnts.zip(cnts.drop(1)).forall { case (a, b) => a >= b })
  }

  test("plan shape: the per-round top-pair is TakeOrdered over a " +
      "two-phase aggregate, not a full sort") {
    val s = spark
    import s.implicits._
    val words = Seq(" a b c ", " a b d ", " b c a ").toDF("s")
    val top = words.select(split(trim(col("s")), " ").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("syms")) - 1),
        i => struct(element_at(col("syms"), i).as("l"),
          element_at(col("syms"), i + 1).as("r")))).as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("l"), col("r")).limit(1)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-pair pays a full sort:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"pair count is not map-side combined:\n$plan")
  }
}
