package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties the 100 TB design depends on
  * must be visible in the physical plan, not just assumed. */
class PlanPropertiesSpec extends AnyFunSuite with SparkSessionFixture {

  private val dir = "/root/testdata/sf0.001"

  /** The IsNotNull filters these plan strings pin are inferred by
    * constraint propagation, which `Graft.session` turns off; the pushdown
    * tests check the plans Spark makes with it on, then the plans a
    * `Graft.session` makes. */
  private def withConstraintPropagation() = {
    val s = spark.newSession()
    s.conf.set("spark.sql.constraintPropagation.enabled", "true")
    s
  }

  test("filters push down to the parquet scan; projection prunes columns") {
    val df = graft.core.Graft.table(withConstraintPropagation(), dir, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
    // the plan a Graft.session makes: the predicate itself is pushed,
    // with no inferred IsNotNull beside it
    val prod = graft.core.Graft.table(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(prod.contains("PushedFilters: [GreaterThanOrEqual(l_quantity,45.0)]"),
      s"filter not pushed:\n$prod")
    assert(prod.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$prod")
  }

  test("partition pruning: reading one partition of a partitioned sink") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    graft.core.Graft.table(spark, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val df = withConstraintPropagation().read.parquet(out)
      .filter(col("o_orderstatus") === "F")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition filter:\n$plan")
    // the plan a Graft.session makes: the partition filter is the
    // predicate alone, with no inferred isnotnull
    val prod = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[\(o_orderstatus#\d+ = F\)\]""".r
      .findFirstIn(prod).isDefined, s"no partition filter:\n$prod")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val df = graft.core.Graft.table(spark, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc).limit(10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$plan")
  }

  test("broadcast hint produces a BroadcastHashJoin for the dim side") {
    val o = graft.core.Graft.table(spark, dir, "orders")
    val c = graft.core.Graft.table(spark, dir, "customer").select("c_custkey")
    val plan = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.core.Graft.table(spark, dir, "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val fact = spark.read.parquet(out)
    // dim with a SELECTIVE filter (what the PartitionPruning rule keys
    // on) whose surviving statuses are only known at runtime
    val dim = graft.core.Graft.table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 400000.0)
      .select(col("o_orderstatus").as("st")).distinct()
    val joined = fact.join(dim, col("o_orderstatus") === col("st"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in:\n$plan")
    // result = all fact rows whose partition survives the dim filter
    val statuses = dim.collect().map(_.getString(0)).toSet
    val expected = graft.core.Graft.table(spark, dir, "orders")
      .filter(col("o_orderstatus").isin(statuses.toSeq: _*)).count()
    assert(joined.count() === expected)
  }

  test("training ops: pruned scans; pack running sums are salted") {
    // q_pack_sequences: 3-column scan, and every window over raw document
    // rows must carry the range salt in its partition spec (source alone
    // would put a whole source's stream in one task) — the offset window
    // runs over the tiny (source, bucket) totals table only.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val pack = SparkEntry.queries("q_pack_sequences")(s2, dir)
    val packExec = pack.queryExecution.executedPlan
    val packPlan = packExec.toString
    assert(packPlan.contains(
      "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"pack scan not pruned:\n$packPlan")
    val windows = packExec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val onAggregated = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.nonEmpty
      assert(onAggregated || w.partitionSpec.size >= 2,
        s"unsalted running-sum window over raw rows:\n$w")
    }

    // q_split_assign: the id/lang/n_chars projection must prune `text`
    // (reading document bodies to assign splits would be a 100 TB bug)
    val split = SparkEntry.queries("q_split_assign")(spark, dir)
    val splitPlan = split.queryExecution.executedPlan.toString
    assert(splitPlan.contains(
      "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"split scan reads more than id/lang/n_chars:\n$splitPlan")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val df = graft.core.Graft.table(spark, dir, "lineitem")
      .filter(col("l_discount") > 0.05)
      .select((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
    // codegen stages print as "*(n)" markers in the plan tree
    val codegen = df.queryExecution.executedPlan.toString
    assert(codegen.contains("*(1)"), codegen)
  }

  test("per-group top-k as rank-filter gets the WindowGroupLimit pushdown") {
    // When per-group top-k IS written as a window (the Aggregator in
    // q_window_topk avoids the window entirely), Spark must insert
    // WindowGroupLimit: each map task keeps only k rows per group BEFORE
    // the shuffle, so the window never sees whole groups — the difference
    // between shuffling k·groups rows and shuffling the table at 100 TB.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice").desc)
    val df = graft.core.Graft.table(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank-filter top-k did not get WindowGroupLimit:\n$plan")
  }

  test("sessionize: lag, running sum and the session aggregation reuse ONE user_id shuffle") {
    // Three logical passes (lag window, boundary prefix sum, per-session
    // agg) — but the two windows share a partitioning spec and the
    // aggregation's group keys are a superset of it, so EnsureRequirements
    // inserts exactly one hash exchange. Only the final presentation
    // ORDER BY adds a range exchange. An extra shuffle here would double
    // the job's data movement at any scale.
    val plan = graft.queries.Windows.queries.find(_.name == "q_sessionize").get
      .run(spark, dir).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"sessionize must hash-shuffle exactly once:\n$plan")
    assert(rangeEx <= 1, s"only the final ORDER BY may range-shuffle:\n$plan")
  }

  test("cdc merge: one full-outer sort-merge join, one shuffle per side") {
    val plan = graft.queries.Training.queries.find(_.name == "q_cdc_merge").get
      .run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"merge must be a full-outer SMJ (full-outer cannot broadcast):\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 2, s"exactly one hash shuffle per merge side:\n$plan")
  }

  test("typed cogroup: CoGroup physical node, one shuffle per input") {
    val plan = graft.queries.Advanced.queries.find(_.name == "q_typed_cogroup").get
      .run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("CoGroup"), s"expected a CoGroup node:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 2, s"exactly one hash shuffle per cogroup input:\n$plan")
  }

  test("q14: dim broadcast — the fact table never shuffles before the aggregate") {
    val plan = graft.queries.Relational.queries.find(_.name == "q14_promo_share").get
      .run(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"scalar aggregate over a broadcast join must not hash-shuffle rows:\n$plan")
  }

  private def relPlan(name: String): String =
    graft.queries.Relational.queries.find(_.name == name).get
      .run(spark, dir).queryExecution.executedPlan.toString

  test("phash dedup: candidates come from a band EQUI-join, never a cartesian product") {
    val plan = graft.SparkEntry.queries("q_dedup_phash")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash candidate generation fell back to all-pairs:\n$plan")
    // the band join keys on (bi, bv) — both sides hashed/broadcast on them
    assert(plan.contains("bi") && plan.contains("bv"),
      s"band keys missing from the join plan:\n$plan")
  }

  test("persisted-ann probe: list scan carries a cid partition filter, no aggregates") {
    val idx = s"${sys.props("java.io.tmpdir")}/graft_ann_plan/${System.nanoTime()}"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    graft.operators.AnnIndex.build(e, "vec_id", "embedding",
      (200L until 208L).toSeq, rounds = 3, dim = 64, idx)
    val plan = graft.operators.AnnIndex.probe(
        e.filter(org.apache.spark.sql.functions.col("vec_id") < 8),
        idx, "vec_id", "embedding", nprobe = 2, topK = 3, excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      s"probe scan must prune list partitions on cid:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"probe plan must not aggregate (that would be an inline re-fit):\n$plan")
  }

  test("q10: aggregate-early — revenue groups on custkey BEFORE the customer join, top-20 is TakeOrdered") {
    val plan = relPlan("q10_returned_revenue")
    assert(plan.contains("TakeOrderedAndProject"), s"top-20 must not full-sort:\n$plan")
    // the aggregate's grouping key is o_custkey (pre-join), not c_custkey
    val aggIdx = plan.indexOf("HashAggregate(keys=[o_custkey")
    assert(aggIdx >= 0, s"revenue must aggregate on o_custkey before the customer join:\n$plan")
    // returnflag filter reaches the lineitem scan
    assert(plan.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$plan")
  }

  test("q12: date-lag filter keeps CASE counts in one aggregation pass") {
    val plan = relPlan("q12_priority_lateship")
    // one pass: exactly one pair of partial+final aggregates over the join
    assert(plan.linesIterator.count(_.contains("HashAggregate")) == 2,
      s"conditional counts must be one partial+final aggregation, not per-branch scans:\n$plan")
  }

  test("q15: view + scalar max — lineitem is scanned once, max broadcasts back") {
    val plan = relPlan("q15_top_supplier")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row max must broadcast:\n$plan")
    // the view is checkpointed: both consumers read its blocks, the
    // fact table is never rescanned by the final plan
    assert(!plan.contains("lineitem.parquet"),
      s"final plan must read the checkpointed view, not rescan lineitem:\n$plan")
    assert(plan.linesIterator.count(_.contains("ExistingRDD")) >= 2,
      s"both consumers must read the shared view blocks:\n$plan")
  }

  test("q17: correlated average fence decorrelates — no per-row subquery, fence joins on l_partkey") {
    val plan = relPlan("q17_small_quantity")
    assert(!plan.contains("Subquery"), s"fence must be decorrelated:\n$plan")
    // per-part aggregate joined back on partkey
    assert(plan.contains("HashAggregate(keys=[l_partkey"),
      s"per-part fence aggregate missing:\n$plan")
  }

  test("q19: OR-of-ANDs — the union of brackets prunes BOTH scans") {
    val plan = relPlan("q19_bracket_revenue")
    // CNF extraction: the brand/size disjunction's part-only factor
    // reaches the part scan as a pushed Or filter...
    assert(plan.contains("Or(Or(And(EqualTo(p_brand"),
      s"OR-of-ANDs part-side factor not pushed to the part scan:\n$plan")
    // ...and the quantity-only factor reaches the lineitem scan
    assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity bracket factor not pushed to the lineitem scan:\n$plan")
  }

  test("q20: nested IN decorrelates to LEFT SEMI over the HAVING aggregate") {
    val plan = relPlan("q20_promo_suppliers")
    assert(plan.contains("LeftSemi"), s"IN must become a semi join:\n$plan")
    assert(!plan.contains("Subquery"), s"IN must be decorrelated, not a subquery:\n$plan")
  }

  test("q2: min-cost fence is a window over ONE offer pass — no self-join, no subquery") {
    val plan = relPlan("q2_min_cost_supplier")
    // the per-part min must ride a Window over the offer aggregate's own
    // l_partkey shuffle, not re-aggregate + join the offer set back
    assert(plan.contains("windowspecdefinition"),
      s"per-part min must be a window, not a join-back:\n$plan")
    assert(!plan.contains("Subquery"), s"min fence must be decorrelated:\n$plan")
    // part filter reaches the part scan, so non-qualifying parts never
    // enter the offer aggregation
    assert(plan.contains("EqualTo(p_type,LARGE)"),
      s"part filter not pushed below the offer aggregate:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-100 must not full-sort:\n$plan")
  }

  test("q8: every dimension broadcasts — only the fact-fact join and the year aggregate shuffle") {
    val plan = relPlan("q8_market_share")
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3, s"part/customer/supplier dims must all broadcast:\n$plan")
    // lineitem⋈orders contributes two hash exchanges (one per side) and
    // the o_year aggregate at most one more; any further exchange means a
    // dimension failed to broadcast
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 3, s"more shuffles than fact-fact join + final aggregate:\n$plan")
  }

  test("q9: LIKE filter is pushed to the part scan; dims broadcast") {
    val plan = relPlan("q9_product_profit")
    assert(plan.contains("StringContains(p_name,gear)"),
      s"LIKE '%gear%' not pushed to the part scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 3, s"more shuffles than fact-fact join + final aggregate:\n$plan")
  }

  test("q16: NOT IN is a broadcast anti join; distinct count rides two-phase aggregation") {
    val plan = relPlan("q16_supplier_parts")
    assert(plan.contains("LeftAnti"),
      s"supplier exclusion must be an anti join:\n$plan")
    assert(plan.contains("Not(EqualTo(p_brand,Brand#45))"),
      s"brand exclusion not pushed to the part scan:\n$plan")
    // two hash exchanges: the (group, suppkey) dedup phase and the final
    // group phase — the fact join itself must stay broadcast (shuffle-free)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2, s"fact joins must not shuffle:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Row-level runtime filtering: when a selective dim filter exists and
    // the join must shuffle (dim above broadcast threshold), the optimizer
    // builds a bloom filter over the dim's join keys and applies it to the
    // fact scan — rows that cannot match never enter the shuffle. At 100 TB
    // this is the difference between shuffling the full fact table and
    // shuffling the matching fraction. Thresholds are lowered here because
    // the test tables are tiny; the plan shape is what's asserted.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "50MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val supp = graft.core.Graft.table(spark, dir, "supplier")
        .filter(col("s_nationkey") === 3)
      val l = graft.core.Graft.table(spark, dir, "lineitem")
      val joined = l.join(supp, col("l_suppkey") === col("s_suppkey"))
        .select("l_orderkey", "s_suppkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter on the fact scan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
