package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured evidence for q_join_bloom_prune's scale claim: the Bloom
  * filter must prune the probe side to (selectivity + fp-rate) of the
  * fact table BEFORE the join, and the reduction must be invisible in
  * the join result. */
class BloomPruneSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.01"

  test("bloom filter prunes the probe side; result equals the plain join") {
    val p = graft.core.Graft.table(spark, sf, "part")
      .filter(col("p_size") === 15).select("p_partkey")
    val bf = p.agg(call_function("graft_bloom_agg",
        xxhash64(col("p_partkey")), lit(100000L), lit(800000L)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val li = graft.core.Graft.table(spark, sf, "lineitem")
    val total = li.count()
    val kept = li.filter(call_function("graft_might_contain",
      lit(bf), xxhash64(col("l_partkey")))).count()
    // p_size=15 keeps ~1/50 of parts; with ~1% fp the surviving fraction
    // must stay well under 10% — and must not drop below the true match set
    assert(kept < total / 10, s"no real pruning: kept $kept of $total")
    val trueMatches = li.join(p, col("l_partkey") === col("p_partkey")).count()
    assert(kept >= trueMatches, "bloom filter dropped true matches")
    // reduction invisible in the final join result
    val pruned = li.filter(call_function("graft_might_contain",
        lit(bf), xxhash64(col("l_partkey"))))
      .join(p, col("l_partkey") === col("p_partkey")).count()
    assert(pruned === trueMatches)
  }

  test("empty build side yields an empty join, not a crash") {
    val p = graft.core.Graft.table(spark, sf, "part")
      .filter(col("p_size") === -1).select("p_partkey")
    val row = p.agg(call_function("graft_bloom_agg",
      xxhash64(col("p_partkey")), lit(100L), lit(800L)).as("bf")).head
    // aggregate over zero rows returns a null filter; might_contain(null)
    // is null, so the pre-filter drops every row — consistent with the
    // empty join the exact path would produce
    assert(row.isNullAt(0))
    val li = graft.core.Graft.table(spark, sf, "lineitem")
    val kept = li.filter(call_function("graft_might_contain",
      lit(null).cast("binary"), xxhash64(col("l_partkey")))).count()
    assert(kept === 0L)
  }
}
