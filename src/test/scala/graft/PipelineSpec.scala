package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Pipeline, WordCount}

/** Golden word-count (FIXTURES.md §A — the reference's only canonical
  * case, /root/reference/src/Impl.hs:30-44 + test/Generator.hs:61-67)
  * plus targeted Pipeline API semantics. */
class PipelineSpec extends AnyFunSuite with SparkSessionFixture {

  test("golden word-count: distributed == expected") {
    implicit val s = spark
    import s.implicits._
    val got = WordCount.pipeline(spark).run(WordCount.sampleInput).sorted
    assert(got == WordCount.expected)
  }

  test("golden word-count: naive evaluator == expected") {
    val got = WordCount.pipeline(spark).runLocal(WordCount.sampleInput).sorted
    assert(got == WordCount.expected)
  }

  test("run-length mapper matches Haskell group semantics") {
    // mapper (_, v) = map (\xs -> (head xs, length xs)) (group v)
    assert(WordCount.runLength(("", "hello")) ==
      Seq(("h", 1), ("e", 1), ("l", 2), ("o", 1)))
    assert(WordCount.runLength(("", "")) == Seq.empty)
    assert(WordCount.runLength(("", "aaa")) == Seq(("a", 3)))
  }

  test("multi-output reducer emits 0..n rows per key") {
    implicit val s = spark
    import s.implicits._
    // emit each distinct value twice for keys with >1 value, drop others —
    // not expressible as SQL agg; the flatMapGroups path must carry it.
    val p = Pipeline.reducer[String, Int, Int]((_, vs) =>
      if (vs.size > 1) vs.sorted.flatMap(v => Seq(v, v)) else Seq.empty)
    val got = p.run(Seq(("a", 1), ("a", 2), ("b", 9))).sorted
    assert(got == Seq(("a", 1), ("a", 1), ("a", 2), ("a", 2)))
  }

  test("repartitionByKey preserves results") {
    implicit val s = spark
    import s.implicits._
    val p = Pipeline
      .mapper[String, String, String, Int](kv => WordCount.runLength(kv))
      .repartitionByKey(3)
      .reducer[Int]((_, vs) => Seq(vs.sum))
    val got = p.run(Seq(("", "hello"), ("", "hello"))).sorted
    assert(got == Seq(("e", 2), ("h", 2), ("l", 4), ("o", 2)))
    // the repartition hashes on the key column the reducer groups on, so
    // it is the stage's only shuffle
    val plan = p(spark.createDataset(Seq(("", "hello")))).queryExecution
      .executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly one hash exchange in:\n$plan")
  }

  test("repartitionByKey(n) before a reducer or combiner is that stage's one exchange") {
    implicit val s = spark
    import s.implicits._
    val mapped = Pipeline
      .mapper[String, String, String, Int](WordCount.runLength)
      .repartitionByKey(3)
    val input = spark.createDataset(Seq(("", "hello")))
    val tupleKeyed = Pipeline[(Int, String), Int]().repartitionByKey(3)
      .reducer[Int]((_, vs) => Seq(vs.sum))
    val plans = Seq(
      mapped.reducer[Int]((_, vs) => Seq(vs.sum)).apply(input),
      mapped.combiner(_ + _).apply(input),
      tupleKeyed(spark.createDataset(Seq(((1, "a"), 2), ((1, "a"), 3))))
    ).map(_.queryExecution.executedPlan.toString)
    plans.foreach { plan =>
      val exchanges = "Exchange hashpartitioning\\(.*, (\\d+)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(exchanges == Seq("3"),
        s"expected exactly one hash exchange, of 3 partitions, in:\n$plan")
    }
    assert(mapped.combiner(_ + _).run(Seq(("", "hello"))).sorted ==
      Seq(("e", 1), ("h", 1), ("l", 2), ("o", 1)))
    assert(tupleKeyed.run(Seq(((1, "a"), 2), ((1, "a"), 3), ((2, "b"), 5))).sorted ==
      Seq(((1, "a"), 5), ((2, "b"), 5)))
  }

  test("reducer groups each task's values below its exchange") {
    implicit val s = spark
    import s.implicits._
    val p = Pipeline[String, Int]().reducer[Int]((_, vs) => Seq(vs.sum))
    val ds = p(spark.createDataset(Seq(("a", 1), ("a", 2), ("b", 3))))
    val lines = ds.queryExecution.executedPlan.toString.split("\n").toSeq
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val inTask = lines.indexWhere(_.contains("MapPartitions"))
    assert(exchange >= 0 && inTask > exchange,
      s"no in-task grouping below the exchange in:\n${lines.mkString("\n")}")
    assert(ds.collect().sorted.toSeq == Seq(("a", 3), ("b", 3)))
  }

  test("empty input yields empty output") {
    implicit val s = spark
    import s.implicits._
    val got = WordCount.pipeline(spark).run(Seq.empty)
    assert(got.isEmpty)
  }

  test("combiner: word-count via map-side fold == reducer formulation") {
    implicit val s = spark
    import s.implicits._
    val viaCombiner = Pipeline
      .mapper[String, String, String, Int](WordCount.runLength)
      .mapper[String, Int](WordCount.add1)
      .combiner(_ + _)
    val got = viaCombiner.run(WordCount.sampleInput).sorted
    assert(got == WordCount.expected)
    assert(viaCombiner.runLocal(WordCount.sampleInput).sorted == WordCount.expected)
  }

  test("combiner plans as a partial+final aggregation, not flatMapGroups") {
    implicit val s = spark
    import s.implicits._
    val p = Pipeline
      .mapper[String, String, String, Int](WordCount.runLength)
      .combiner(_ + _)
    val ds = p(spark.createDataset(Seq(("", "hello"), ("", "world"))))
    // the combine stage must reach the planner as a typed AGGREGATION
    // (partial merge before the shuffle) — two aggregate nodes around one
    // exchange — not as the reducer's whole-group flatMapGroups
    val plan = ds.queryExecution.executedPlan.toString
    val aggs = "Aggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"no partial+final aggregation in:\n$plan")
    assert(!plan.contains("FlatMapGroups"),
      s"combiner fell back to whole-group iteration:\n$plan")
    assert(!plan.contains("AppendColumns"),
      s"combiner groups on an appended key column:\n$plan")
    assert(ds.collect().sorted.toSeq ==
      Seq(("d", 1), ("e", 1), ("h", 1), ("l", 3), ("o", 2), ("r", 1), ("w", 1)))
  }

  test("reducer groups on the key column, not an appended one") {
    implicit val s = spark
    import s.implicits._
    val p = Pipeline
      .mapper[String, String, String, Int](WordCount.runLength)
      .reducer[Int]((_, vs) => Seq(vs.sum))
    val ds = p(spark.createDataset(Seq(("", "hello"), ("", "world"))))
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("AppendColumns"),
      s"reducer groups on an appended key column:\n$plan")
    assert(ds.collect().sorted.toSeq ==
      Seq(("d", 1), ("e", 1), ("h", 1), ("l", 3), ("o", 2), ("r", 1), ("w", 1)))
  }

  test("reducer and combiner group tuple keys") {
    implicit val s = spark
    import s.implicits._
    val input = Seq(((1, "a"), 2), ((1, "a"), 3), ((2, "b"), 5), ((1, "b"), 7))
    val reduced = Pipeline[(Int, String), Int]().reducer[Int]((_, vs) => Seq(vs.sum))
    val combined = Pipeline[(Int, String), Int]().combiner(_ + _)
    val expected = Seq(((1, "a"), 5), ((1, "b"), 7), ((2, "b"), 5))
    assert(reduced.run(input).sorted == expected)
    assert(combined.run(input).sorted == expected)
  }
}
