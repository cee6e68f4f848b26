package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graft._

/** Relational core: scans, projection/filter, all join types, aggregation,
  * sort/limit/top-k, set operations.
  *
  * Capability map: SURVEY.md §2.2 — every category the reference expresses
  * via Mapper/Reducer composition (reference ops #1/#3/#5,
  * /root/reference/src/Core/MapReduceC.hs:24-44) re-expressed as declarative
  * DataFrame plans so Catalyst can push filters, prune columns, pick join
  * strategies (broadcast for dims) and insert partial aggregation.
  *
  * Determinism: money sums go through Graft.fixed4 (per-row quantization →
  * exact integer sums) so Spark and the DuckDB oracle agree bit-for-bit;
  * every query ends in a total ORDER BY.
  */
object Relational extends QueryGroup {

  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  // -- scans / projection / filter ------------------------------------

  private val qScanProject = Q(
    "q_scan_project",
    (s, dir) => table(s, dir, "lineitem")
      .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity >= 45 AND l_discount > 0.05
            ORDER BY l_orderkey, l_linenumber"""))

  private val qSourceValues = Q(
    "q_source_values",
    (s, dir) => {
      import s.implicits._
      // In-memory scan (reference MemoryStore, src/Core/Store.hs:88-96).
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("k", "v").orderBy("k")
    },
    Some("SELECT * FROM (VALUES (CAST(1 AS BIGINT),'alpha'),(2,'beta'),(3,'gamma')) t(k, v) ORDER BY k"))

  // -- aggregation ----------------------------------------------------

  /** TPC-H Q1 shape: the canonical partial+final hash aggregation. */
  private val q1Agg = Q(
    "q1_agg",
    (s, dir) => table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some(s"""SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               ${moneySumSql("l_extendedprice")} AS sum_base_price,
               ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
               ${moneySumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
               sum(l_quantity) / count(*) AS avg_qty,
               ${moneyAvgSql("l_extendedprice")} AS avg_price,
               count(*) AS count_order
             FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
             GROUP BY l_returnflag, l_linestatus
             ORDER BY l_returnflag, l_linestatus"""))

  private val qAggDistinct = Q(
    "q_agg_distinct",
    (s, dir) => table(s, dir, "lineitem")
      // One partial-aggregated dedup to the (flag, supp, part) level
      // first: every distinct count is derivable from that set, so the
      // multi-distinct Expand runs over ~40% of the rows (and the pair
      // count needs no Expand branch at all — it's count(*) of the set).
      .select(col("l_returnflag"), col("l_suppkey"), col("l_partkey"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_supp_part"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
              count(DISTINCT l_partkey) AS n_part,
              count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // -- joins ----------------------------------------------------------

  /** Flagship: TPC-H Q3 shape — dim filter, two joins (customer is
    * broadcast-size), aggregated revenue, top-10. */
  private val q3TopRevenue = Q(
    "q3_top_revenue",
    (s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp_ntz")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), ntz(col("o_orderdate")).as("o_orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some(s"""SELECT l_orderkey,
               ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
               o_orderdate
             FROM customer, orders, lineitem
             WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
               AND l_orderkey = o_orderkey
               AND o_orderdate < TIMESTAMP '1998-01-01'
               AND l_shipdate  > TIMESTAMP '1998-01-01'
             GROUP BY l_orderkey, o_orderdate
             ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  private val qJoinLeft = Q(
    "q_join_left",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          moneySum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spent"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
               ${moneySumSql("coalesce(o_totalprice, 0.0)")} AS total_spent
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey, c_name ORDER BY c_custkey"""))

  private val qJoinSemi = Q(
    "q_join_semi",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment").orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
            ORDER BY c_custkey"""))

  private val qJoinAnti = Q(
    "q_join_anti",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal").orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_acctbal FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
            ORDER BY c_custkey"""))

  /** Full outer join of two pre-aggregated sides (per-nation customer vs
    * supplier balances) — aggregate-before-join keeps the shuffle small. */
  private val qJoinFull = Q(
    "q_join_full",
    (s, dir) => {
      val c = table(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = table(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("nk") === col("nk2"), "full_outer")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT coalesce(c.nk, s.nk2) AS nationkey,
              coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
            FROM (SELECT c_nationkey nk, count(*) n_cust FROM customer GROUP BY 1) c
            FULL JOIN (SELECT s_nationkey nk2, count(*) n_supp FROM supplier GROUP BY 1) s
              ON c.nk = s.nk2
            ORDER BY nationkey"""))

  private val qJoinCross = Q(
    "q_join_cross",
    (s, dir) => {
      val r = table(s, dir, "region").select(col("r_name"))
      val n = table(s, dir, "nation").select(col("n_name"))
      r.crossJoin(n).orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
            ORDER BY r_name, n_name"""))

  /** Right outer join: every nation, with its suppliers or nulls. */
  private val qJoinRight = Q(
    "q_join_right",
    (s, dir) => {
      val sup = table(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = table(s, dir, "nation").select("n_nationkey", "n_name")
      sup.join(n, col("s_nationkey") === col("n_nationkey"), "right_outer")
        .select(col("n_nationkey"), col("n_name"), col("s_suppkey"))
        .orderBy(col("n_nationkey"), col("s_suppkey"))
    },
    Some("""SELECT n_nationkey, n_name, s_suppkey
            FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
            ORDER BY n_nationkey, s_suppkey"""))

  /** General theta join (non-equi condition, no equi component): plans as
    * BroadcastNestedLoopJoin — correct only because one side is a
    * broadcast-size dim; the bucketed rewrites in AsOfRangeJoins are the
    * path for big-big non-equi joins. */
  private val qJoinTheta = Q(
    "q_join_theta",
    (s, dir) => {
      val r = table(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val n = table(s, dir, "nation").select(col("n_regionkey"), col("n_name"))
      r.join(n, col("r_regionkey") < col("n_regionkey"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name FROM region JOIN nation
            ON r_regionkey < n_regionkey ORDER BY r_name, n_name"""))

  /** Multi-hop dimension chain with two broadcastable dims (TPC-H Q5
    * shape): region → nation → customer+orders. */
  private val q5NationRevenue = Q(
    "q5_nation_revenue",
    (s, dir) => {
      val r = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = table(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val c = table(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      // Selective side first: orders ⋈ ASIA-customers (~1/5 selectivity)
      // before the big lineitem join, so the largest shuffle probes a
      // pre-filtered build side instead of all orders.
      val co = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("n_name"))
      // Reduce early: revenue pre-aggregated per orderkey (exact integer
      // units) BEFORE the join — map-side partial compresses the ~4
      // lineitems/order pre-shuffle, and the join then reuses the
      // aggregation's hash partitioning instead of reshuffling lineitem.
      // unitsSum at the final level keeps the total bit-identical.
      val lAgg = l
        .select(col("l_orderkey"),
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("ru"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("ru")).as("order_units"))
      lAgg.join(co, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(unitsSum(col("order_units")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some(s"""SELECT n_name,
               ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
             FROM region, nation, customer, orders, lineitem
             WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
               AND c_nationkey = n_nationkey AND o_custkey = c_custkey
               AND l_orderkey = o_orderkey
             GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  /** Conditional aggregation over a fact↔dim join (TPC-H Q14 shape):
    * promo share of revenue for a ship-date quarter. The dim (part) is
    * broadcast so the fact table never shuffles; the CASE folds into the
    * partial aggregate, so one pass over the filtered scan produces both
    * sums. The date filter is a pushed parquet predicate. Share = one
    * double division of two exact long unit-sums — deterministic across
    * engines. */
  private val q14PromoShare = Q(
    "q14_promo_share",
    (s, dir) => {
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      val p = table(s, dir, "part").select(col("p_partkey"), col("p_type"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("u"),
          when(col("p_type") === "PROMO",
            fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(lit(0L)).as("pu"))
        .agg(
          (sum(col("pu")).cast("double") / 10000.0).as("promo_revenue"),
          (sum(col("u")).cast("double") / 10000.0).as("total_revenue"),
          (lit(100.0) * sum(col("pu")).cast("double") /
            sum(col("u")).cast("double")).as("promo_share_pct"))
    },
    Some(s"""SELECT
               CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN ${fixed4Sql("l_extendedprice * (1 - l_discount)")}
                 ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
               CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                 AS DOUBLE) / 10000.0 AS total_revenue,
               100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN ${fixed4Sql("l_extendedprice * (1 - l_discount)")}
                 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                   AS DOUBLE) AS promo_share_pct
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE l_shipdate >= TIMESTAMP '1997-07-01'
               AND l_shipdate <  TIMESTAMP '1997-10-01'"""))

  /** Two-level aggregation over an outer join (TPC-H Q13 shape): the
    * distribution of customers by order count, zero-order customers
    * included via the LEFT join. Level 1 hash-aggregates on c_custkey
    * (reusing the join's partitioning — no second shuffle); level 2
    * re-aggregates the per-customer counts into the distribution, whose
    * key cardinality is tiny, so the second shuffle moves almost
    * nothing. count(o_orderkey) (not count(*)) makes the no-order
    * customer count 0 on both engines. */
  private val q13CustDist = Q(
    "q13_custdist",
    (s, dir) => {
      val c = table(s, dir, "customer").select(col("c_custkey"))
      val o = table(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey) t
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""))

  /** TPC-H Q4 shape (order-priority checking), adapted to this schema's
    * dates: orders in a half-year window having at least one line shipped
    * more than 60 days after the order date. The EXISTS decorrelates to a
    * LEFT SEMI hash join on l_orderkey with the date comparison as the
    * join residual — lineitem is never aggregated, and each qualifying
    * order counts once no matter how many late lines it has. Orders-side
    * date filter pushes to the scan; the count per priority is a 5-key
    * hash aggregation. */
  private val q4PriorityLate = Q(
    "q4_priority_late",
    (s, dir) => {
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = table(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      o.join(l,
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-07-01'
              AND EXISTS (SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q7 (volume shipping between two nations): the classic 5-way
    * join, planned for scale by pushing the nation predicate INTO the
    * dimension side before any fact table is touched — the 2-nation
    * filtered supplier and customer lists broadcast, so lineitem rows
    * from the other 23 nations are dropped at the FIRST join, and the
    * ship-date window is pushed to the parquet scan. The only big-table
    * shuffle is lineitem ⋈ orders on orderkey (at 100 TB the customer
    * side would exceed broadcast and hash-join on custkey — same plan
    * minus one broadcast hint, which AQE decides anyway). Money is exact
    * unit sums; the cross-pair filter (supp ≠ cust nation) runs on two
    * broadcast-joined dictionary columns. */
  private val q7VolumeShipping = Q(
    "q7_volume_shipping",
    (s, dir) => {
      val nat = table(s, dir, "nation")
        .filter(col("n_name").isin("NATION_3", "NATION_7"))
        .select("n_nationkey", "n_name")
      val sup = table(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = table(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val l = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val o = table(s, dir, "orders").select("o_orderkey", "o_custkey")
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg((sum(col("rev")).cast("double") / 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              CAST(year(l_shipdate) AS BIGINT) AS l_year,
              CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation n1 ON n1.n_nationkey = s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c_nationkey
            WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** TPC-H Q11 shape (important-stock HAVING against a global scalar),
    * adapted: parts whose revenue exceeds 1.25× the all-parts average.
    * Per-part values are one lineitem hash aggregation; the global
    * (total, part-count) pair is a second aggregation OVER THE PER-PART
    * ROWS (not a second lineitem scan) whose single row broadcasts back,
    * so the threshold comparison `val·np·4 > t·5` is pure long
    * arithmetic — exact on both engines, no float division. Values are
    * 1e-2 money units ((fixed4 div 100)·qty — prices have 2 decimals so
    * the div is exact), two orders of magnitude more headroom before the
    * long sum would wrap. */
  private val q11PartShare = Q(
    "q11_part_share",
    (s, dir) => {
      val pv = table(s, dir, "lineitem")
        .select(col("l_partkey"),
          ((fixed4(col("l_extendedprice")) / lit(100L)).cast("long") *
            col("l_quantity").cast("long")).as("v"))
        .groupBy(col("l_partkey")).agg(sum(col("v")).as("val"))
      val tot = pv.agg(sum(col("val")).as("t"), count(lit(1)).as("np"))
      pv.join(broadcast(tot))
        .filter(col("val") * col("np") * lit(4L) > col("t") * lit(5L))
        .select("l_partkey", "val")
        .orderBy(col("val").desc, col("l_partkey"))
    },
    Some(s"""WITH pv AS (
              SELECT l_partkey,
                CAST(sum((${fixed4Sql("l_extendedprice")} // 100)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS val
              FROM lineitem GROUP BY 1),
            tot AS (SELECT sum(val) AS t, count(*) AS np FROM pv)
            SELECT l_partkey, val FROM pv, tot
            WHERE val * np * 4 > t * 5
            ORDER BY val DESC, l_partkey"""))

  /** TPC-H Q18 (large-volume orders): orders whose total quantity tops
    * the threshold, joined back to customer. The HAVING filter runs on
    * the per-order aggregate BEFORE any join — the big table collapses
    * to qualifying orders first, then two equi-joins attach order and
    * customer attributes. Quantities are integer-valued; cast to long so
    * the sum and threshold are exact. Top-20 is TakeOrderedAndProject. */
  private val q18LargeOrders = Q(
    "q18_large_orders",
    (s, dir) => {
      val big = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("q"))
        .groupBy(col("l_orderkey")).agg(sum(col("q")).as("sum_qty"))
        .filter(col("sum_qty") > 120L)
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = table(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          fixed4(col("o_totalprice")).as("totalprice_fp"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(20)
    },
    Some(s"""SELECT c_name, o_orderkey,
              ${fixed4Sql("o_totalprice")} AS totalprice_fp, sum_qty
            FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT))
                    AS BIGINT) AS sum_qty
                  FROM lineitem GROUP BY 1
                  HAVING sum(CAST(l_quantity AS BIGINT)) > 120) big
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            ORDER BY sum_qty DESC, o_orderkey LIMIT 20"""))

  /** TPC-H Q21 shape (suppliers who kept waiting orders), adapted to
    * ship-lag lateness: a supplier is charged for an order when its line
    * shipped >60 days after the order date, ANOTHER supplier has a line
    * in the same order (multi-supplier), and NO other supplier was late
    * — the sole-blame semantics. The double-correlated EXISTS / NOT
    * EXISTS pair decorrelates to a LEFT SEMI + LEFT ANTI join cascade on
    * l_orderkey with the supplier inequality as join residual, over
    * DISTINCT (order, supplier) line sets so multi-line suppliers count
    * once. Every join is orderkey-keyed — the same partitioning reused
    * three times; supplier names attach by broadcast at the end. */
  private val q21LateSuppliers = Q(
    "q21_late_suppliers",
    (s, dir) => {
      val o = table(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val lines = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val late = table(s, dir, "lineitem")
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val sup = table(s, dir, "supplier").select("s_suppkey", "s_name")
      late.as("l1")
        .join(lines.as("l2"),
          col("l2.l_orderkey") === col("l1.l_orderkey") &&
          col("l2.l_suppkey") =!= col("l1.l_suppkey"), "left_semi")
        .join(late.as("l3"),
          col("l3.l_orderkey") === col("l1.l_orderkey") &&
          col("l3.l_suppkey") =!= col("l1.l_suppkey"), "left_anti")
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
    Some("""WITH late AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              JOIN orders ON o_orderkey = l_orderkey
              WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
            lines AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
            SELECT s_name, count(*) AS numwait
            FROM late l1
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE EXISTS (SELECT 1 FROM lines l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10"""))

  /** TPC-H Q22 shape (global-balance fence + NOT EXISTS), adapted to
    * dormancy: customers in three segments with above-average positive
    * balances and no order since 2000-01-01. The average fence is kept
    * EXACT by clearing the division: c > Σc/n ⟺ fp(c)·n > Σfp(c) — all
    * long arithmetic on 1e-4 balance units, so a borderline balance
    * cannot flip between engines on float rounding. The (Σfp, n) pair is
    * one broadcast row; the dormancy check is a LEFT ANTI join against
    * the date-filtered orders scan (predicate pushed); per-segment sums
    * are exact fixed-point. */
  private val q22DormantCustomers = Q(
    "q22_dormant_customers",
    (s, dir) => {
      val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
      val c = table(s, dir, "customer")
        .filter(col("c_mktsegment").isin(segs: _*))
        .select(col("c_custkey"), col("c_mktsegment"),
          fixed4(col("c_acctbal")).as("bal_fp"))
      val fence = c.filter(col("bal_fp") > 0L)
        .agg(sum(col("bal_fp")).as("tot"), count(lit(1)).as("n"))
      val recent = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz"))
        .select(col("o_custkey"))
      c.join(broadcast(fence))
        .filter(col("bal_fp") * col("n") > col("tot"))
        .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"), sum(col("bal_fp")).as("totbal_fp"))
        .orderBy("c_mktsegment")
    },
    Some(s"""WITH c AS (
              SELECT c_custkey, c_mktsegment,
                ${fixed4Sql("c_acctbal")} AS bal_fp
              FROM customer
              WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
            fence AS (
              SELECT sum(bal_fp) AS tot, count(*) AS n FROM c
              WHERE bal_fp > 0)
            SELECT c_mktsegment, count(*) AS numcust,
              CAST(sum(bal_fp) AS BIGINT) AS totbal_fp
            FROM c, fence
            WHERE bal_fp * n > tot
              AND NOT EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY 1 ORDER BY 1"""))

  /** Ship-latency SLA attainment — the operational scorecard: per order
    * priority, the share of lineitems shipped within 30/60/90 days of
    * the order date, in integer BASIS POINTS (cnt·10000 div total — no
    * float percentage exists, ties in the integer division identical on
    * both engines). One orderkey equi-join carries o_orderdate to the
    * lineitem rows; all three SLA bands fold into ONE conditional
    * aggregation pass (CASE inside the partial aggregate, the Q14
    * discipline) keyed by the 5-value priority dictionary. */
  private val qShipSla = Q(
    "q_ship_sla",
    (s, dir) => {
      val o = table(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = table(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      def within(days: Int): Column =
        sum(when(col("l_shipdate") <=
          col("o_orderdate") + expr(s"INTERVAL $days DAY"), 1L).otherwise(0L))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          within(30).as("w30"), within(60).as("w60"), within(90).as("w90"))
        .select(col("o_orderpriority"), col("n_lines"),
          expr("(w30 * 10000) div n_lines").as("sla30_bps"),
          expr("(w60 * 10000) div n_lines").as("sla60_bps"),
          expr("(w90 * 10000) div n_lines").as("sla90_bps"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_lines,
              CAST((sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
                THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS sla30_bps,
              CAST((sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY
                THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS sla60_bps,
              CAST((sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS sla90_bps
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            GROUP BY 1 ORDER BY 1"""))

  /** ABC / PARETO classification — the inventory-analytics split of a
    * ranked population into cumulative-share classes (A: first 70% of
    * revenue, B: to 90%, C: tail). Per-part revenues are one hash
    * aggregation; the ranked cumulative share over the AGGREGATED part
    * table runs through the salted prefix-sum machinery
    * (operators/SaltedPrefix, the q_window_ntile form — r15 verdict item
    * 2: the previous `sum over (ORDER BY …)` global window put the whole
    * part domain through ONE window task, a single-task sort that grows
    * 100× at 100× scale; now the only per-row windows are per-(key,
    * bucket) partial sums). Descending revenue order is encoded as the
    * ascending order column −rev with partkey as the tie column; the
    * aggregated part table is localCheckpoint'd so the machinery's
    * multiple consumers (quantile sample, bucket join, totals branch)
    * re-read the part-domain rows instead of re-aggregating lineitem.
    * Class boundaries are integer cross-products (cum·10 ≤ total·7) so
    * no float share ever exists; long sums are exact, so the stitched
    * cumulative equals the windowed one bit-for-bit. Ties on revenue are
    * broken by partkey — deterministic class membership. */
  private val qAbcClassify = Q(
    "q_abc_classify",
    (s, dir) => {
      val pv = table(s, dir, "lineitem")
        .select(col("l_partkey"),
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .groupBy(col("l_partkey")).agg(sum(col("rev")).as("rev"))
        .localCheckpoint()
      val consts = pv.agg(sum(col("rev")).as("total"))
      val enc = pv.crossJoin(broadcast(consts))
        .withColumn("k", lit("all"))
        .withColumn("ord", -col("rev"))
      graft.operators.SaltedPrefix
        .exclusivePrefixSumQuantile(enc, "k", "ord", col("rev"), nb = 32,
          tieCol = Some("l_partkey"))
        .withColumn("cum", col("start_off") + col("rev"))
        .withColumn("abc_class",
          when(col("cum") * 10 <= col("total") * 7, "A")
            .when(col("cum") * 10 <= col("total") * 9, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          (sum(col("rev")).cast("double") / 10000.0).as("class_revenue"))
        .orderBy("abc_class")
    },
    Some(s"""WITH pv AS (
              SELECT l_partkey,
                CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                  AS BIGINT) AS rev
              FROM lineitem GROUP BY 1),
            ranked AS (
              SELECT l_partkey, rev,
                sum(rev) OVER (ORDER BY rev DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(rev) OVER () AS total
              FROM pv),
            classed AS (
              SELECT *, CASE WHEN cum * 10 <= total * 7 THEN 'A'
                WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS abc_class
              FROM ranked)
            SELECT abc_class, count(*) AS n_parts,
              CAST(sum(rev) AS DOUBLE) / 10000.0 AS class_revenue
            FROM classed GROUP BY 1 ORDER BY 1"""))

  /** GINI COEFFICIENT of revenue concentration — the inequality measure
    * completing q_abc_classify's share classes: on rank-sorted values
    * G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx), computed entirely in
    * decimal(38,0)/HUGEINT integer products with remainder-subtracted
    * floor division (Σi·xᵢ alone is rank·revenue ≈ 10²⁰-grade at a
    * full-scale catalog). The global rank over the AGGREGATED part table
    * comes from the salted prefix-sum machinery (operators/SaltedPrefix,
    * value 1 ⇒ row number — r15 verdict item 2: the previous
    * `row_number() OVER (ORDER BY …)` global window was a single-task
    * sort of the whole part domain); n is a one-row broadcast instead of
    * an unpartitioned count window. The part table is localCheckpoint'd
    * so the machinery's consumers re-read it rather than re-aggregate
    * lineitem. Ties broken by partkey so the rank-weighted sum is
    * deterministic. */
  private val qGiniConcentration = Q(
    "q_gini_concentration",
    (s, dir) => {
      val dec = "decimal(38,0)"
      val pv = table(s, dir, "lineitem")
        .select(col("l_partkey"),
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .groupBy(col("l_partkey")).agg(sum(col("rev")).as("rev"))
        .localCheckpoint()
      val consts = pv.agg(count(lit(1)).as("n"))
      val enc = pv.crossJoin(broadcast(consts)).withColumn("k", lit("all"))
      val r = graft.operators.SaltedPrefix
        .exclusivePrefixSumQuantile(enc, "k", "rev", lit(1L), nb = 32,
          tieCol = Some("l_partkey"))
        .withColumn("i", col("start_off") + 1L)
      r.agg(
          sum(col("i").cast(dec) * col("rev").cast(dec)).as("siw"),
          sum(col("rev").cast(dec)).as("sw"),
          max(col("n")).as("n"))
        .select({
          val num = (lit(2).cast(dec) * col("siw") -
            (col("n") + 1).cast(dec) * col("sw")) * lit(1000000L).cast(dec)
          val den = col("n").cast(dec) * col("sw")
          ((num - num % den) / den).cast("long").as("gini_micro")
        }, col("n"))
    },
    Some(s"""WITH pv AS (
              SELECT l_partkey,
                CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                  AS BIGINT) AS rev
              FROM lineitem GROUP BY 1),
            r AS (
              SELECT rev,
                row_number() OVER (ORDER BY rev, l_partkey) AS i,
                count(*) OVER () AS n
              FROM pv),
            s AS (
              SELECT CAST(sum(CAST(i AS HUGEINT) * rev) AS HUGEINT) AS siw,
                CAST(sum(CAST(rev AS HUGEINT)) AS HUGEINT) AS sw,
                max(n) AS n
              FROM r)
            SELECT CAST(((2 * siw - (n + 1) * sw) * 1000000)
                // (n * sw) AS BIGINT) AS gini_micro,
              CAST(n AS BIGINT) AS n
            FROM s"""))

  // -- sort / limit / top-k -------------------------------------------

  private val qSortLimit = Q(
    "q_sort_limit",
    (s, dir) => table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
      .limit(100),
    Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
            ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** Global top-k: planned as TakeOrderedAndProject — no full sort. */
  private val qTopkGlobal = Q(
    "q_topk_global",
    (s, dir) => table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25),
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25"""))

  // -- set operations -------------------------------------------------

  private def custNations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
  private def suppNations(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))

  private val qSetUnionAll = Q(
    "q_set_union_all",
    (s, dir) => custNations(s, dir).union(suppNations(s, dir))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey")),
    Some("""SELECT nationkey, count(*) AS n FROM (
              SELECT c_nationkey AS nationkey FROM customer
              UNION ALL SELECT s_nationkey FROM supplier) t
            GROUP BY nationkey ORDER BY nationkey"""))

  private val qSetIntersect = Q(
    "q_set_intersect",
    (s, dir) => custNations(s, dir).intersect(suppNations(s, dir))
      .orderBy(col("nationkey")),
    Some("""SELECT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""))

  private val qSetExcept = Q(
    "q_set_except",
    (s, dir) => custNations(s, dir).except(suppNations(s, dir))
      .orderBy(col("nationkey")),
    Some("""SELECT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey"""))

  /** Bag-semantics intersect: multiplicity = min of the two sides. */
  private val qSetIntersectAll = Q(
    "q_set_intersect_all",
    (s, dir) => custNations(s, dir).intersectAll(suppNations(s, dir))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey")),
    Some("""SELECT nationkey, count(*) AS n FROM (
              SELECT c_nationkey AS nationkey FROM customer
              INTERSECT ALL SELECT s_nationkey FROM supplier) t
            GROUP BY nationkey ORDER BY nationkey"""))

  /** Bag-semantics except: multiplicity = left minus right, floored at 0. */
  private val qSetExceptAll = Q(
    "q_set_except_all",
    (s, dir) => custNations(s, dir).exceptAll(suppNations(s, dir))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey")),
    Some("""SELECT nationkey, count(*) AS n FROM (
              SELECT c_nationkey AS nationkey FROM customer
              EXCEPT ALL SELECT s_nationkey FROM supplier) t
            GROUP BY nationkey ORDER BY nationkey"""))

  /** Schema-aligned union: columns matched by NAME (order-independent),
    * absent columns null-filled — `unionByName(allowMissingColumns)`,
    * DuckDB's UNION ALL BY NAME. */
  private val qSetUnionByName = Q(
    "q_set_union_by_name",
    (s, dir) => {
      val a = table(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"))
      val b = table(s, dir, "supplier")
        .select(col("s_name").as("name"), col("s_suppkey").as("key")) // no acctbal
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("name").substr(1, 4).as("prefix"))
        .agg(count(lit(1)).as("n"), count(col("acctbal")).as("n_with_bal"))
        .orderBy(col("prefix"))
    },
    Some("""SELECT prefix, count(*) AS n, count(acctbal) AS n_with_bal FROM (
              SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal
              FROM customer
              UNION ALL BY NAME
              SELECT s_name AS name, s_suppkey AS key FROM supplier
            ) t(key, name, acctbal), LATERAL (SELECT substring(name, 1, 4) AS prefix) p
            GROUP BY prefix ORDER BY prefix"""))

  private val qSetDistinct = Q(
    "q_set_distinct",
    (s, dir) => table(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority")),
    Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
            ORDER BY o_orderstatus, o_orderpriority"""))

  /** EXPLICIT Bloom-filter semi-join reduction — the runtime-filter
    * pattern for joins whose build side is too big to broadcast but whose
    * KEY SET fits a kilobyte sketch: the filtered part keys fold into a
    * catalyst BloomFilterAggregate (graft_bloom_agg), and
    * graft_might_contain prunes lineitem BELOW its shuffle, so rows that
    * cannot match never enter the exchange. False positives (~1% at
    * these sizings) pass the filter and are eliminated by the exact join
    * — which is why the oracle is the PLAIN join: the reduction must be
    * invisible in the result. Spark's InjectRuntimeFilter does this
    * opportunistically; making it a first-class operator makes the
    * reduction deterministic and available to DataFrame pipelines. The
    * one-row driver fetch of the filter bytes is the same scalar
    * materialization Spark's own runtime filter does via subquery.
    * Measured pruning (rows entering the shuffle) is pinned in
    * BloomPruneSpec. */
  private val qJoinBloomPrune = Q(
    "q_join_bloom_prune",
    (s, dir) => {
      val p = table(s, dir, "part").filter(col("p_size") === 15)
        .select("p_partkey", "p_type")
      val bf = p.agg(call_function("graft_bloom_agg",
          xxhash64(col("p_partkey")), lit(100000L), lit(800000L)).as("bf"))
        .head.getAs[Array[Byte]]("bf")
      val l = table(s, dir, "lineitem")
        .filter(call_function("graft_might_contain",
          lit(bf), xxhash64(col("l_partkey"))))
        .select("l_partkey", "l_extendedprice", "l_discount")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("p_type"))
    },
    Some(s"""SELECT p_type, count(*) AS n,
               ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_size = 15
             GROUP BY p_type ORDER BY p_type"""))

  /** TPC-H Q10 shape (returned-item revenue, top-k customers): the
    * big fact-fact join collapses to a per-customer aggregate BEFORE any
    * dimension attaches — revenue is grouped on o_custkey right after
    * the lineitem⋈orders join, then one equi-join picks up customer
    * attributes and nation broadcasts. Wrong plan here (join customer
    * first, aggregate last) drags customer columns through the fact
    * shuffle; the aggregate-early shape ships only (custkey, revenue).
    * Top-20 is TakeOrderedAndProject, revenue exact via moneySum. */
  private val q10ReturnedRevenue = Q(
    "q10_returned_revenue",
    (s, dir) => {
      val l = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey")
      val c = table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val n = table(s, dir, "nation").select("n_nationkey", "n_name")
      l.join(o, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(moneySum(col("rev")).as("revenue"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(broadcast(n), col("n_nationkey") === col("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          fixed4(col("c_acctbal")).as("acctbal_fp"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some(s"""WITH rev AS (
              SELECT o_custkey,
                ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1996-04-01'
              GROUP BY 1)
            SELECT c_custkey, c_name, revenue,
              ${fixed4Sql("c_acctbal")} AS acctbal_fp, n_name
            FROM rev JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  /** TPC-H Q12 shape (priority counts by class, CASE-conditional
    * aggregation), adapted to the reduced schema: l_shipmode →
    * l_returnflag as the grouping dimension, the receipt-lateness fence
    * → ship-lag > 75 days. The pattern under test: a join whose date
    * arithmetic filter collapses the fact table BEFORE aggregation, and
    * a two-way conditional count (CASE ... IN) computed in ONE pass —
    * not two filtered subqueries re-scanning the join. */
  private val q12PriorityLateship = Q(
    "q12_priority_lateship",
    (s, dir) => {
      val l = table(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
      val o = table(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 75 DAY"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 75 DAY
            GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q15 shape (view + global max): the revenue view is computed
    * ONCE and reused both as the ranking input and the scalar-max fence.
    * Reuse is FORCED with an eager localCheckpoint of the view — without
    * it Catalyst plans the two consumers as two independent aggregation
    * chains and scans the fact table twice (observed in the physical
    * plan; exchange reuse does not fire across the broadcast boundary).
    * The view is post-aggregation small (one row per supplier), so
    * checkpointing it costs nothing next to a second fact scan at 100 TB
    * — PlanPropertiesSpec asserts the final plan reads the view blocks
    * and never rescans lineitem. Revenue stays in exact 1e-4 long units
    * end-to-end, so "equal to the max" cannot be broken by float
    * rounding ties. */
  private val q15TopSupplier = Q(
    "q15_top_supplier",
    (s, dir) => {
      val rev = table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
                col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey"))
        .agg(sum(fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_revenue_fp"))
        .localCheckpoint()
      val mx = rev.agg(max(col("total_revenue_fp")).as("mx"))
      val sup = table(s, dir, "supplier").select("s_suppkey", "s_name")
      rev.join(broadcast(mx))
        .filter(col("total_revenue_fp") === col("mx"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_fp")
        .orderBy("s_suppkey")
    },
    Some(s"""WITH rev AS (
              SELECT l_suppkey,
                CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")})
                  AS BIGINT) AS total_revenue_fp
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY 1)
            SELECT s_suppkey, s_name, total_revenue_fp
            FROM rev JOIN supplier ON s_suppkey = l_suppkey
            WHERE total_revenue_fp = (SELECT max(total_revenue_fp) FROM rev)
            ORDER BY s_suppkey"""))

  /** TPC-H Q17 shape (correlated scalar-average fence): "lines under 20%
    * of their part's average quantity" decorrelates to a per-part
    * aggregate joined back onto the brand-filtered line set — the
    * correlated subquery never re-executes per row. The fence is kept
    * exact by clearing the division: q < 0.2·(Σq/n) ⟺ 5·q·n < Σq in
    * long arithmetic, so a borderline line cannot flip on float
    * rounding. The brand dimension broadcasts; the per-part aggregate
    * and the join reuse the same l_partkey partitioning. */
  private val q17SmallQuantity = Q(
    "q17_small_quantity",
    (s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val pl = table(s, dir, "lineitem")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("q"),
          col("l_extendedprice"))
      val fence = pl.groupBy(col("l_partkey"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("nq"))
      pl.join(fence, Seq("l_partkey"))
        .filter(col("q") * lit(5L) * col("nq") < col("sq"))
        .agg((moneySum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    },
    Some(s"""WITH pl AS (
              SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q, l_extendedprice
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#23'),
            fence AS (
              SELECT l_partkey, sum(q) AS sq, count(*) AS nq FROM pl GROUP BY 1)
            SELECT ${moneySumSql("l_extendedprice")} / 7.0 AS avg_yearly
            FROM pl JOIN fence USING (l_partkey) WHERE q * 5 * nq < sq"""))

  /** TPC-H Q19 shape (disjunction of conjunctive brackets): revenue over
    * an OR of three (brand, size-range, quantity-range) brackets. The
    * planner pattern under test is OR-of-ANDs pushdown — the disjunction
    * must not block filtering: Catalyst's CNF conversion extracts the
    * part-only common factors (brand ∈ {...}, size ranges) below the
    * join, so the broadcast build side carries qualifying parts only
    * instead of the whole dimension (PlanPropertiesSpec asserts it). */
  private val q19BracketRevenue = Q(
    "q19_bracket_revenue",
    (s, dir) => {
      val p = table(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      val l = table(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    },
    Some(s"""SELECT ${moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand='Brand#12' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand='Brand#23' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand='Brand#34' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)"""))

  /** TPC-H Q20 shape (nested IN over an aggregate-with-HAVING), adapted
    * to the reduced schema (no partsupp): suppliers who shipped more
    * than 55 units of some 'small%' part, in one nation. The IN
    * decorrelates to a LEFT SEMI join against the (supplier, part)
    * aggregate — dedup is free (semi join), the name-filtered part
    * dimension broadcasts into the fact scan, and the tiny supplier
    * table is probed last. */
  private val q20PromoSuppliers = Q(
    "q20_promo_suppliers",
    (s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_name").startsWith("small")).select("p_partkey")
      val qualifying = table(s, dir, "lineitem")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sq"))
        .filter(col("sq") > 55L)
        .select("l_suppkey")
      table(s, dir, "supplier")
        .filter(col("s_nationkey") === 3)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"),
          fixed4(col("s_acctbal")).as("acctbal_fp"))
        .orderBy("s_name")
    },
    Some(s"""SELECT s_suppkey, s_name, ${fixed4Sql("s_acctbal")} AS acctbal_fp
            FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
                WHERE p_name LIKE 'small%'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(CAST(l_quantity AS BIGINT)) > 55)
              AND s_nationkey = 3
            ORDER BY s_name"""))

  /** TPC-H Q2 shape (correlated min-cost supplier), adapted to the
    * reduced schema (no partsupp): the supplier-part catalog is the
    * per-(part, supplier) minimum net line price in exact 1e-4 longs.
    * The pattern under test is the correlated scalar min subquery
    * ("cost equal to the cheapest offer for that part among suppliers
    * of one region"). Rather than decorrelating to an aggregate +
    * self-join (two passes over the offer set), the min is a window
    * over l_partkey on the SAME pass — one shuffle, no rescan,
    * identical semantics because min-per-part needs no ordering. The
    * region→nation→supplier chain collapses to one broadcast before
    * the offer aggregation, and the part filter is pushed below the
    * per-part min (legal: the min correlates only on partkey, so
    * dropping non-qualifying parts cannot change it). Exact long
    * costs mean "equal to the min" cannot be broken by float ties. */
  private val q2MinCostSupplier = Q(
    "q2_min_cost_supplier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = table(s, dir, "nation")
        .join(table(s, dir, "region").filter(col("r_name") === "EUROPE"),
          col("r_regionkey") === col("n_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = table(s, dir, "supplier")
        .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val p = table(s, dir, "part")
        .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
        .select("p_partkey", "p_name")
      val offers = table(s, dir, "lineitem")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"), col("p_name"))
        .agg(min(fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("cost_fp"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
      offers
        .withColumn("mn", min(col("cost_fp"))
          .over(Window.partitionBy(col("l_partkey"))))
        .filter(col("cost_fp") === col("mn"))
        .select(fixed4(col("s_acctbal")).as("acctbal_fp"), col("s_name"),
          col("n_name"), col("l_partkey").as("p_partkey"), col("p_name"),
          col("cost_fp"))
        .orderBy(col("acctbal_fp").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some(s"""WITH sup AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier JOIN nation ON n_nationkey = s_nationkey
              JOIN region ON r_regionkey = n_regionkey
              WHERE r_name = 'EUROPE'),
            offers AS (
              SELECT l_partkey, l_suppkey,
                min(${fixed4Sql("l_extendedprice * (1 - l_discount)")}) AS cost_fp
              FROM lineitem GROUP BY 1, 2),
            eo AS (
              SELECT l_partkey, cost_fp, s_name, s_acctbal, n_name
              FROM offers JOIN sup ON s_suppkey = l_suppkey)
            SELECT ${fixed4Sql("s_acctbal")} AS acctbal_fp, s_name, n_name,
              p_partkey, p_name, cost_fp
            FROM part p JOIN eo ON eo.l_partkey = p.p_partkey
            WHERE p_size <= 15 AND p_type = 'LARGE'
              AND cost_fp = (SELECT min(cost_fp) FROM eo e2
                             WHERE e2.l_partkey = p.p_partkey)
            ORDER BY acctbal_fp DESC, n_name, s_name, p_partkey LIMIT 100"""))

  /** TPC-H Q8 shape (national market share): one nation's share of
    * regional revenue per order year. Pattern under test: a five-way
    * star join where every dimension broadcasts and the only shuffle
    * is the lineitem⋈orders fact-fact key exchange, followed by a
    * conditional two-sum aggregation in ONE pass (numerator = CASE on
    * the supplier nation, denominator = all rows) — not two filtered
    * re-scans. Share stays exact: both sums are 1e-4 longs and the
    * final division is a single deterministic IEEE op per row. */
  private val q8MarketShare = Q(
    "q8_market_share",
    (s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val amCust = table(s, dir, "customer")
        .join(broadcast(table(s, dir, "nation")
            .join(table(s, dir, "region").filter(col("r_name") === "AMERICA"),
              col("r_regionkey") === col("n_regionkey"))
            .select("n_nationkey")),
          col("n_nationkey") === col("c_nationkey"))
        .select("c_custkey")
      val supN = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("n_nationkey") === col("s_nationkey"))
        .select("s_suppkey", "supp_nation")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      table(s, dir, "lineitem")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(amCust), col("c_custkey") === col("o_custkey"), "left_semi")
        .join(broadcast(supN), col("s_suppkey") === col("l_suppkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_fp"),
          col("supp_nation"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", col("rev_fp")).otherwise(0L))
            .as("nation_rev_fp"),
          sum(col("rev_fp")).as("total_rev_fp"))
        .withColumn("mkt_share", col("nation_rev_fp") / col("total_rev_fp"))
        .orderBy(col("o_year"))
    },
    Some(s"""WITH rev AS (
              SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                ${fixed4Sql("l_extendedprice * (1 - l_discount)")} AS rev_fp,
                sn.n_name AS supp_nation
              FROM lineitem
              JOIN part ON p_partkey = l_partkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation sn ON sn.n_nationkey = s_nationkey
              WHERE p_type = 'ECONOMY'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
                AND o_custkey IN (
                  SELECT c_custkey FROM customer
                  JOIN nation cn ON cn.n_nationkey = c_nationkey
                  JOIN region ON r_regionkey = cn.n_regionkey
                  WHERE r_name = 'AMERICA'))
            SELECT o_year,
              CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_fp ELSE 0 END)
                AS BIGINT) AS nation_rev_fp,
              CAST(sum(rev_fp) AS BIGINT) AS total_rev_fp,
              CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev_fp ELSE 0 END)
                AS BIGINT) / CAST(sum(rev_fp) AS BIGINT) AS mkt_share
            FROM rev GROUP BY 1 ORDER BY 1"""))

  /** TPC-H Q9 shape (product-type profit by nation and year), adapted
    * to the reduced schema (no partsupp): supply cost is modeled as
    * half the part's retail price per unit, so profit = net revenue −
    * 0.5·retail·quantity, each term quantized per row to 1e-4 longs
    * (the difference of two exact longs is exact — no float drift
    * between Spark's partial-agg order and DuckDB's). Pattern under
    * test: a LIKE-filtered dimension broadcast into the fact scan, the
    * single fact-fact shuffle against orders, and a two-dimension
    * (nation × year) aggregate with descending year order. */
  private val q9ProductProfit = Q(
    "q9_product_profit",
    (s, dir) => {
      val p = table(s, dir, "part")
        .filter(col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
      val o = table(s, dir, "orders").select("o_orderkey", "o_orderdate")
      val supN = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("nation"))),
          col("n_nationkey") === col("s_nationkey"))
        .select("s_suppkey", "nation")
      table(s, dir, "lineitem")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(supN), col("s_suppkey") === col("l_suppkey"))
        .select(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"),
          (fixed4(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
           fixed4(col("p_retailprice") * lit(0.5) * col("l_quantity")))
            .as("profit_fp"))
        .groupBy(col("nation"), col("o_year"))
        .agg(sum(col("profit_fp")).as("sum_profit_fp"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some(s"""SELECT sn.n_name AS nation,
              CAST(year(o_orderdate) AS BIGINT) AS o_year,
              CAST(sum(${fixed4Sql("l_extendedprice * (1 - l_discount)")}
                  - ${fixed4Sql("p_retailprice * 0.5 * l_quantity")})
                AS BIGINT) AS sum_profit_fp
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2 ORDER BY 1, 2 DESC"""))

  /** TPC-H Q16 shape (supplier counts per part attribute, with an
    * exclusion list): distinct suppliers per (brand, type, size) over
    * the part-supplier relation, excluding suppliers on a complaint
    * analog (negative account balance) via NOT IN. Pattern under test:
    * the NOT IN decorrelates to a broadcast LEFT ANTI join (null-free
    * key, so no null-aware penalty), the attribute filter broadcasts
    * into the fact scan, and count(DISTINCT) rides Spark's two-phase
    * partial dedup — the supplier-pair dedup the canonical query gets
    * from partsupp's uniqueness happens inside the aggregate, not as a
    * separate distinct pass. */
  private val q16SupplierParts = Q(
    "q16_supplier_parts",
    (s, dir) => {
      val complainers = table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val p = table(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      table(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(broadcast(p), col("p_partkey") === col("l_partkey"))
        .join(broadcast(complainers), col("s_suppkey") === col("l_suppkey"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""SELECT p_brand, p_type, p_size,
              count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  override val queries: Seq[Q] = Seq(
    qScanProject, qSourceValues, q1Agg, qAggDistinct,
    q3TopRevenue, qJoinLeft, qJoinRight, qJoinSemi, qJoinAnti, qJoinFull,
    qJoinCross, qJoinTheta, qJoinBloomPrune, q5NationRevenue, q13CustDist,
    q14PromoShare, q4PriorityLate, q7VolumeShipping, q10ReturnedRevenue,
    q11PartShare, q12PriorityLateship, q15TopSupplier, q17SmallQuantity,
    q18LargeOrders, q19BracketRevenue, q20PromoSuppliers,
    q21LateSuppliers, q22DormantCustomers,
    q2MinCostSupplier, q8MarketShare, q9ProductProfit, q16SupplierParts,
    qAbcClassify,
    qGiniConcentration, qShipSla, qSortLimit, qTopkGlobal,
    qSetUnionAll, qSetIntersect, qSetExcept,
    qSetIntersectAll, qSetExceptAll, qSetUnionByName, qSetDistinct)
}
