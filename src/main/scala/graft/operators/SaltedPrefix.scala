package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic range-salted prefix sums over skewed partition keys.
  *
  * A running sum (or row numbering — a running sum of 1) partitioned by a
  * LOW-CARDINALITY key puts each key's entire row set through one window
  * task at any scale. This helper stitches it from parallel pieces with
  * NO nondeterministic sampling (a RangePartitioner's sampled bounds
  * would not be a pure function of the data):
  *
  *   1. a salt assigns each row an ORDER-PRESERVING bucket within its key
  *      — every row of bucket i precedes every row of bucket i+1, which
  *      is what makes per-bucket results stitchable (hash salting would
  *      interleave);
  *   2. exclusive prefix sums run per (key, bucket) in parallel; bucket
  *      totals (a ≤ keys·nb row table) are lifted by a running offset and
  *      broadcast-joined back.
  *
  * Two salts share that stitching; bucket quality affects only BALANCE,
  * never correctness (any monotone bucket function stitches exactly):
  *
  *  - [[exclusivePrefixSum]] — LINEAR salt from each key's [min, max]
  *    bounds: b = ((ord - min) · nb) div (max - min + 1). One tiny
  *    aggregation; balanced when the order column is roughly uniform
  *    within each key's range (true of synthetic ids).
  *  - [[exclusivePrefixSumQuantile]] — EQUI-DEPTH salt from per-key
  *    quantile bounds of a deterministic hash-sample: balanced under ANY
  *    order-column distribution (a skewed domain collapses the linear
  *    salt's buckets onto the dense region; quantile bounds follow the
  *    density). The sample keeps order values whose xxhash64 lands in a
  *    1/sampleOneIn slice — a pure function of the value multiset, so
  *    bounds are partitioning-invariant, unlike RangePartitioner's
  *    random sample.
  */
object SaltedPrefix {

  /** Adds `start_off` = the exclusive prefix sum of `value` within
    * `partCol` ordered by `orderCol` (0 for each key's first row).
    * `row_number` = start_off + 1 when `value` is `lit(1L)`. The order
    * column must be numeric and unique within a key. */
  def exclusivePrefixSum(
      df: DataFrame, partCol: String, orderCol: String,
      value: Column, nb: Int = 16): DataFrame = {
    val bounds = df.groupBy(partCol)
      .agg(min(orderCol).as("__mn"), max(orderCol).as("__mx"))
    val b = df.join(broadcast(bounds), partCol)
      .withColumn("__bkt",
        expr(s"(($orderCol - __mn) * $nb) div (__mx - __mn + 1)").cast("int"))
      .drop("__mn", "__mx")
    stitch(b, partCol, orderCol, value)
  }

  /** [[exclusivePrefixSum]] with quantile-derived (equi-depth) bucket
    * bounds — closes the skewed-ORDER-domain residual: a key whose order
    * values cluster (timestamps bunched in business hours, squared ids,
    * Zipfian scores) keeps ~uniform bucket sizes because the bounds are
    * the sample's own 1/nb … (nb-1)/nb quantiles.
    *
    * Per-key sample size is E[n_key / sampleOneIn]; keys too small to
    * sample fall into one bucket (already small ⇒ balance is moot), keys
    * large enough to matter yield enough sample for stable bounds. Pick
    * sampleOneIn so keys·(n_key/sampleOneIn) stays driver-broadcastable.
    *
    * Bounds and probes are compared as BIGINT-cast order values (the
    * codegen'd binary search is typed array<bigint>): for a fractional
    * order column the cast truncates, which can only COARSEN buckets —
    * floor is monotone, and any monotone bucket function stitches
    * exactly — so correctness is unaffected; balance is exact for
    * integral order columns (both current callers). */
  def exclusivePrefixSumQuantile(
      df: DataFrame, partCol: String, orderCol: String,
      value: Column, nb: Int = 16, sampleOneIn: Int = 64,
      tieCol: Option[String] = None): DataFrame =
    stitch(withQuantileBuckets(df, partCol, orderCol, nb, sampleOneIn),
      partCol, orderCol, value, tieCol)

  /** Adds `__bkt` (int, order-preserving within `partCol`) from
    * deterministic hash-sampled quantile bounds. Public building block so
    * tests (and other operators needing an equi-depth range salt) can
    * inspect bucket balance directly. */
  def withQuantileBuckets(
      df: DataFrame, partCol: String, orderCol: String,
      nb: Int, sampleOneIn: Int): DataFrame = {
    // deterministic pseudo-sample: a pure function of the value multiset
    val sampled = df.select(col(partCol), col(orderCol).cast("long").as("__ord"))
      .filter(pmod(xxhash64(col("__ord")), lit(sampleOneIn)) === 0)
    // exact quantiles OF THE SAMPLE: sort the per-key sample (bounded by
    // n_key/sampleOneIn) and pick the (i·size/nb)-th elements — no GK
    // sketch, whose merge-order dependence would break determinism
    val bounds = sampled.groupBy(partCol)
      .agg(sort_array(collect_list(col("__ord"))).as("__s"))
      .select(col(partCol),
        when(size(col("__s")) === 0, expr("array()").cast("array<bigint>"))
          .otherwise(expr(
            s"transform(sequence(1, $nb - 1), " +
              s"i -> element_at(__s, cast((i * size(__s)) div $nb as int) + 1))"))
          .as("__bounds"))
    // monotone bucket: #bounds strictly below ord — order-preserving for
    // any bounds content (dupes from a clustered sample just leave some
    // buckets empty); keys absent from the sample get bucket 0. The count
    // is a codegen'd binary search (graft_lowerbound) on the sorted
    // bounds — an interpreted filter-lambda here cost ~2/3 of the whole
    // query's task time at sf0.1, paid once per row per consumer branch
    df.join(broadcast(bounds), Seq(partCol), "left")
      .withColumn("__bkt",
        coalesce(
          call_function("graft_lowerbound",
            col("__bounds"), col(orderCol).cast("long")), lit(0))
          .cast("int"))
      .drop("__bounds")
  }

  /** Shared stitching: per-(key, bucket) exclusive prefix sums, bucket
    * totals lifted by a per-key running offset, broadcast back. Requires
    * `__bkt` to be order-preserving within each key.
    *
    * The bucket-totals branch aggregates the salted projection DIRECTLY
    * (not the windowed rows): column pruning narrows its scan to the two
    * key columns and the partial aggregation runs map-side, so the only
    * per-row window pass is the per-bucket prefix sum — the totals
    * branch's second scan is a pruned-column re-read plus a
    * counters-only shuffle, cheaper than materializing the projection
    * for reuse (a localCheckpoint variant measured SLOWER: block write
    * cost exceeded the recompute it saved). */
  /** `tieCol` extends the per-bucket ordering to (orderCol, tieCol) —
    * the COMPOSITE-key form (r13): packing two wide keys into one int64
    * overflows once their bit widths sum past 63 (q_window_ntile's
    * price×maxkey encoding blew up at the sf10 id domain), while a
    * tie-break column costs nothing: buckets depend only on the primary
    * (any monotone function of it stitches exactly), so only the
    * per-bucket window needs the second key. Uniqueness precondition
    * becomes pair-uniqueness within the partition key. */
  private def stitch(
      b0: DataFrame, partCol: String, orderCol: String,
      value: Column, tieCol: Option[String] = None): DataFrame = {
    val b = b0.withColumn("__v", value)
    // totals from the projection directly — the big window below is then
    // the ONLY per-row window pass
    val totals = b.groupBy(partCol, "__bkt").agg(sum("__v").as("__t"))
    val wOff = Window.partitionBy(col(partCol)).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = totals
      .withColumn("__off", coalesce(sum("__t").over(wOff), lit(0L)))
      .select(partCol, "__bkt", "__off")
    val wLocal = Window.partitionBy(col(partCol), col("__bkt"))
      .orderBy(col(orderCol) +: tieCol.map(col).toSeq: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("__local_off", coalesce(sum(col("__v")).over(wLocal), lit(0L)))
      .join(broadcast(offs), Seq(partCol, "__bkt"))
      .withColumn("start_off", col("__off") + col("__local_off"))
      .drop("__v", "__local_off", "__off", "__bkt")
  }
}
