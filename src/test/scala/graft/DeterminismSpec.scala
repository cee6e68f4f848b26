package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioning-invariance meta-test: a registry query must produce
  * bit-identical rows regardless of shuffle partitioning — the engine-wide
  * form of the reference's distributed-vs-naive equivalence
  * (test/Generator.hs:83-92). Covers the queries whose results could
  * plausibly depend on aggregation/merge order: float aggregations
  * (split-sum money, cosine, quantized sums), sketches, windows, and the
  * multi-stage LLM pipelines. */
class DeterminismSpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.001"

  // order-sensitivity risk set; cheap at sf0.001
  private val probes = Seq(
    "q1_agg", "q5_nation_revenue", "q_agg_percentile", "q_agg_cms",
    "q_agg_approx_distinct", "q_window_running", "q_window_rank",
    "q_dedup_minhash", "q_dedup_simhash", "q_dedup_embedding",
    "q_sim_ivf", "q_llm_clean_pipeline", "q_join_asof_native",
    "q_stream_session")

  test("results are invariant to shuffle partitioning (3 vs 13 partitions)") {
    val qs = SparkEntry.queries
    probes.foreach { name =>
      val fn = qs(name)
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val a = fn(spark, sf).collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      assert(a == b, s"$name differs across partitionings")
      assert(a.nonEmpty, s"$name returned no rows at $sf")
    }
  }

  test("FULL registry is value-invariant to shuffle partitioning (2 vs 17)") {
    // Chaos-breadth companion to the ordered risk-set probe above: every
    // registered query, compared as a sorted row multiset (several
    // queries order by non-unique keys, where intra-tie order is
    // legitimately partitioning-dependent; the driver's gate also sorts
    // before hashing). Catches any operator whose VALUES depend on
    // partition count — merge-order float sums, sketch merges, sampled
    // boundaries — across the whole surface, not just the known risks.
    val qs = SparkEntry.queries
    val failures = qs.keys.toSeq.sorted.flatMap { name =>
      val fn = qs(name)
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val a = fn(spark, sf).collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "17")
      val b = fn(spark, sf).collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      if (a == b) None else Some(name)
    }
    assert(failures.isEmpty,
      s"queries with partitioning-dependent values: ${failures.mkString(", ")}")
  }

  test("native function type errors fail analysis, not execution") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.createOrReplaceTempView("docs_typecheck")
    Seq(
      "SELECT graft_cosine(text, text) FROM docs_typecheck",
      "SELECT graft_quantdot(doc_id, doc_id, 1.0) FROM docs_typecheck",
      "SELECT graft_simhash(text) FROM docs_typecheck",
      "SELECT graft_mingram(doc_id, 8) FROM docs_typecheck"
    ).foreach { sql =>
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
        e.getMessage.contains("unexpected input types"), s"$sql: ${e.getMessage.take(120)}")
    }
  }
}
