package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graft._
import graft.operators.{AsOfRangeJoins, Fixpoint, TypedAggregates}
import graft.operators.PortableHash.{charHashSql, minhashSigSql, P}

/** Range/as-of joins and typed custom aggregates (SURVEY §2.2 Joins +
  * UDAF surface; §7.4 multi-output reducers). */
object Advanced extends QueryGroup {

  /** Range self-join: pairs of events from the same user within 10
    * minutes — bucketed equi-join, not a nested-loop theta join. */
  private val qJoinRange = Q(
    "q_join_range",
    (s, dir) => AsOfRangeJoins
      .rangeSelfJoinPairs(table(s, dir, "events"),
        key = "user_id", id = "event_id", ts = "ts", toleranceUs = 600000000L)
      .orderBy(col("user_id"), col("a_id"), col("b_id")),
    Some("""SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
              epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
              AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
            ORDER BY a.user_id, a_id, b_id"""))

  /** KEYLESS interval-overlap join (Flink interval-join / range-overlap
    * semantics with no equi key to hide behind): order fulfilment windows
    * [orderdate, orderdate+6d] from two status populations, every
    * cross-population pair whose windows overlap. The naive plan is a
    * BroadcastNestedLoopJoin cross product; AsOfRangeJoins
    * .intervalOverlapPairs grids the time axis (7-day cells) and finds
    * each pair exactly once via the greatest-start ownership cell, so
    * the whole thing is one equi-join on the cell — parallel across the
    * axis, AQE-splittable on dense cells, no O(n²) anywhere. */
  private val qJoinInterval = Q(
    "q_join_interval",
    (s, dir) => {
      val day = unix_date(col("o_orderdate").cast("date")).cast("long")
      def side(status: String, idAs: String, loAs: String, hiAs: String) =
        table(s, dir, "orders")
          .filter(col("o_orderstatus") === status && col("o_orderkey") % 20 === 0)
          .select(col("o_orderkey").as(idAs), day.as(loAs), (day + 6L).as(hiAs))
      AsOfRangeJoins
        .intervalOverlapPairs(
          side("F", "a_id", "a_lo", "a_hi"),
          side("O", "b_id", "b_lo", "b_hi"), gridW = 7L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlap"), min(col("b_id")).as("b_min"))
        .orderBy(col("a_id"))
    },
    Some("""WITH spans AS (
              SELECT o_orderkey AS id, o_orderstatus AS st,
                datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo,
                datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 6 AS hi
              FROM orders WHERE o_orderkey % 20 = 0)
            SELECT a.id AS a_id, count(*) AS n_overlap, min(b.id) AS b_min
            FROM spans a JOIN spans b
              ON a.st = 'F' AND b.st = 'O' AND a.lo <= b.hi AND b.lo <= a.hi
            GROUP BY a.id ORDER BY a_id"""))

  /** As-of join: for each purchase, the user's most recent signup at or
    * before it — union-and-window lowering, zero joins. */
  private val qJoinAsof = Q(
    "q_join_asof",
    (s, dir) => AsOfRangeJoins
      .asOfLastBefore(table(s, dir, "events"),
        key = "user_id", id = "event_id", ts = "ts", typeCol = "event_type",
        buildType = "signup", probeType = "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        col("asof_ts").cast("timestamp_ntz").as("signup_ts"))
      .orderBy(col("user_id"), col("event_id")),
    Some("""SELECT user_id, event_id, ts AS purchase_ts, asof_ts AS signup_ts
            FROM (
              SELECT user_id, event_id, ts, event_type,
                last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END,
                                 event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts
              FROM events WHERE event_type IN ('signup', 'purchase')) t
            WHERE event_type = 'purchase'
            ORDER BY user_id, event_id"""))

  /** Same as-of semantics through the NATIVE whole-operator path
    * (plans/AsOfJoin: custom LogicalPlan + optimizer Rule + Strategy +
    * SparkPlan): one shuffle per side, streaming per-partition merge with
    * O(1) state — vs the union+window plan, whose window sort carries
    * every probe row. Shares q_join_asof's oracle, so the two lowerings
    * are differential-tested against each other through the gate. */
  private val qJoinAsofNative = Q(
    "q_join_asof_native",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val probe = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val build = ev.filter(col("event_type") === "signup")
        .select("user_id", "ts", "event_id")
      graft.plans.AsOfJoin
        .lastBefore(probe, build, Seq("user_id"), "ts", "ts", Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("purchase_ts"),
          col("r_ts").cast("timestamp_ntz").as("signup_ts"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT user_id, event_id, ts AS purchase_ts, asof_ts AS signup_ts
            FROM (
              SELECT user_id, event_id, ts, event_type,
                last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END,
                                 event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts
              FROM events WHERE event_type IN ('signup', 'purchase')) t
            WHERE event_type = 'purchase'
            ORDER BY user_id, event_id"""))

  /** FORWARD as-of (first signup at-or-after each purchase) through the
    * union+window lowering. Oracle = DuckDB's native ASOF LEFT JOIN with
    * the inequality reversed (p.ts <= s.ts) — a genuinely independent
    * third formulation of the semantics. */
  private val qJoinAsofFwd = Q(
    "q_join_asof_fwd",
    (s, dir) => AsOfRangeJoins
      .asOfFirstAfter(table(s, dir, "events"),
        key = "user_id", id = "event_id", ts = "ts", typeCol = "event_type",
        buildType = "signup", probeType = "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        col("asof_ts").cast("timestamp_ntz").as("signup_ts"))
      .orderBy(col("user_id"), col("event_id")),
    Some("""SELECT p.user_id, p.event_id, p.ts AS purchase_ts, s.ts AS signup_ts
            FROM (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                  WHERE event_type = 'signup') s
              ON p.user_id = s.user_id AND p.ts <= s.ts
            ORDER BY p.user_id, p.event_id"""))

  /** Forward as-of through the NATIVE plan node (AsOfForward direction:
    * the pending build row is held as the match without being consumed,
    * still O(1) state). Shares q_join_asof_fwd's DuckDB-ASOF oracle, so
    * the two lowerings differential-gate each other. */
  private val qJoinAsofFwdNative = Q(
    "q_join_asof_fwd_native",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val probe = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val build = ev.filter(col("event_type") === "signup")
        .select("user_id", "ts", "event_id")
      graft.plans.AsOfJoin
        .firstAfter(probe, build, Seq("user_id"), "ts", "ts", Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("purchase_ts"),
          col("r_ts").cast("timestamp_ntz").as("signup_ts"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""SELECT p.user_id, p.event_id, p.ts AS purchase_ts, s.ts AS signup_ts
            FROM (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts FROM events
                  WHERE event_type = 'signup') s
              ON p.user_id = s.user_id AND p.ts <= s.ts
            ORDER BY p.user_id, p.event_id"""))

  /** The shared SQL oracle of the two NEAREST as-of lowerings: both
    * directional window candidates, smaller |Δ| wins within a 1-day
    * tolerance, ties backward. */
  private val asofNearestOracle =
    """SELECT user_id, event_id, ts AS purchase_ts,
         CASE WHEN back_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(back_ts) <= 86400000000
                AND (fwd_ts IS NULL
                     OR epoch_us(fwd_ts) - epoch_us(ts) > 86400000000
                     OR epoch_us(ts) - epoch_us(back_ts)
                        <= epoch_us(fwd_ts) - epoch_us(ts))
              THEN back_ts
              WHEN fwd_ts IS NOT NULL
                AND epoch_us(fwd_ts) - epoch_us(ts) <= 86400000000
              THEN fwd_ts
         END AS signup_ts
       FROM (
         SELECT user_id, event_id, ts, event_type,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts DESC, CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fwd_ts
         FROM events WHERE event_type IN ('signup', 'purchase')) t
       WHERE event_type = 'purchase'
       ORDER BY user_id, event_id"""

  /** NEAREST-within-tolerance as-of (closest signup within 1 day of each
    * purchase, either direction, ties backward) — union+window lowering:
    * one shuffle, two window sorts (asc + desc) over the same keyed
    * partition. */
  private val qJoinAsofNearest = Q(
    "q_join_asof_nearest",
    (s, dir) => AsOfRangeJoins
      .asOfNearest(table(s, dir, "events"),
        key = "user_id", id = "event_id", ts = "ts", typeCol = "event_type",
        buildType = "signup", probeType = "purchase",
        toleranceUs = 86400000000L)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("purchase_ts"),
        col("asof_ts").cast("timestamp_ntz").as("signup_ts"))
      .orderBy(col("user_id"), col("event_id")),
    Some(asofNearestOracle))

  /** Nearest as-of through the NATIVE plan node (AsOfNearest direction:
    * the backward candidate is the O(1) lastMatch, the forward candidate
    * is the held pending row — no extra sort vs backward, unlike the
    * union+window twin which pays a second descending window sort).
    * LongType epoch-micro time columns (builder-enforced) carry the Δ
    * arithmetic. Shares q_join_asof_nearest's oracle. */
  private val qJoinAsofNearestNative = Q(
    "q_join_asof_nearest_native",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val usCol = unix_micros(col("ts").cast("timestamp"))
      val probe = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), usCol.as("ts_us"))
      val build = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), usCol.as("ts_us"), col("event_id"))
      graft.plans.AsOfJoin
        .nearest(probe, build, Seq("user_id"), "ts_us", "ts_us",
          toleranceUs = 86400000000L, buildTiebreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("purchase_ts"),
          col("r_ts").cast("timestamp_ntz").as("signup_ts"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(asofNearestOracle))

  /** Salted equi-join (operators/SkewJoins) gated against the plain
    * join's oracle: the result set must be EXACTLY what the unsalted
    * join produces — the correctness contract that makes salting a safe
    * skew mitigation at scale. */
  private val qJoinSalted = Q(
    "q_join_salted",
    (s, dir) => {
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val su = table(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      graft.operators.SkewJoins
        .saltedEquiJoin(l, su, "l_suppkey", "s_suppkey", nSalts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, count(*) AS n_lines,
              count(DISTINCT l_orderkey) AS n_orders
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** Typed `joinWith` (Dataset[(L, R)] pair join) — the typed spine the
    * reference's Serializable2-constrained pipelines imply, flattened
    * back to columns for the oracle. */
  private val qTypedJoinWith = Q(
    "q_typed_joinwith",
    (s, dir) => {
      import s.implicits._
      val n = table(s, dir, "nation").as[Advanced.Nation]
      val r = table(s, dir, "region").as[Advanced.Region]
      n.joinWith(r, n("n_regionkey") === r("r_regionkey"), "inner")
        .map { case (nat, reg) => (nat.n_nationkey, nat.n_name, reg.r_name) }
        .toDF("n_nationkey", "n_name", "r_name")
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey, n_name, r_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY n_nationkey"""))

  /** Custom typed Aggregator (partial+final automatically — an upgrade
    * over the reference's post-shuffle-only reducers). */
  private val qAggTypedWavg = Q(
    "q_agg_typed_wavg",
    (s, dir) => {
      val wup = udaf(TypedAggregates.WeightedUnitPrice,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          fixed4(col("l_extendedprice")).as("p4"), col("l_quantity").as("q"))
        .groupBy(col("l_returnflag"))
        .agg(wup(col("p4"), col("q")).as("wavg_unit_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag,
               sum(${fixed4Sql("l_extendedprice")}) / 10000.0 / sum(l_quantity)
                 AS wavg_unit_price
             FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Bounded top-k aggregate (O(k) state per group) + posexplode back to
    * rows: 5 smallest orderkeys per priority class. */
  private val qAggTopkTyped = Q(
    "q_agg_topk_typed",
    (s, dir) => {
      val top5 = udaf(TypedAggregates.TopK(5),
        org.apache.spark.sql.Encoders.scalaLong)
      table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(top5(col("o_orderkey")).as("ks"))
        .select(col("o_orderpriority"), posexplode(col("ks")).as(Seq("pos", "o_orderkey")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rk"), col("o_orderkey"))
        .orderBy(col("o_orderpriority"), col("rk"))
    },
    Some("""SELECT o_orderpriority, rk, o_orderkey FROM (
              SELECT o_orderpriority, o_orderkey,
                row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_orderkey) AS rk
              FROM orders) t
            WHERE rk <= 5 ORDER BY o_orderpriority, rk"""))

  /** Multi-output reducer (reference op #3 shape, k -> [v] -> [v2]
    * emitting several rows per key) via typed flatMapGroups. */
  private val qAggFlatMapGroups = Q(
    "q_agg_flatmapgroups",
    (s, dir) => {
      import s.implicits._
      table(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_acctbal"))
        .as[(String, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (seg: String, it: Iterator[(String, Double)]) =>
          var mn = Double.MaxValue
          var mx = -Double.MaxValue
          var n = 0L
          it.foreach { case (_, v) =>
            if (v < mn) mn = v
            if (v > mx) mx = v
            n += 1
          }
          Iterator(("min", seg, mn, n), ("max", seg, mx, n))
        }
        .toDF("stat", "c_mktsegment", "acctbal", "n")
        .orderBy(col("c_mktsegment"), col("stat"))
    },
    Some("""SELECT 'min' AS stat, c_mktsegment, min(c_acctbal) AS acctbal,
              count(*) AS n FROM customer GROUP BY c_mktsegment
            UNION ALL
            SELECT 'max', c_mktsegment, max(c_acctbal), count(*)
              FROM customer GROUP BY c_mktsegment
            ORDER BY c_mktsegment, stat"""))

  /** Pivot (wide aggregation): order counts per priority × status. */
  private val qAggPivot = Q(
    "q_agg_pivot",
    (s, dir) => table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
              CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
              CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
              CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** The spark.sql entry path (SURVEY §3 "SQL layer" — absent in the
    * reference, first-class here): TPC-H Q6 shape in SQL text over a temp
    * view, with the fixed4 determinism idiom written in SQL. */
  private val qSqlEntry = Q(
    "q_sql_tpch6",
    (s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(s"""SELECT count(*) AS n,
                  CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
                       AS DOUBLE) / 10000.0 AS revenue
                FROM lineitem_v
                WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01'
                  AND l_shipdate <  TIMESTAMP_NTZ '1998-01-01'
                  AND l_discount BETWEEN 0.05 AND 0.07
                  AND l_quantity < 24""")
    },
    Some("""SELECT count(*) AS n,
              CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))
                   AS DOUBLE) / 10000.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24"""))

  /** Auto-nativization under the driver gate: a SQL user writes the
    * PORTABLE COMPOSED forms (the exact HOF shapes the DuckDB twins use —
    * rolling charhash per token, trigram fold, minhash permutations) and
    * the optimizer rules (plans/NativizeHash) swap in the codegen
    * kernels after probe-verified semantic equality. The oracle
    * recomputes the same composed forms in DuckDB, so a rewrite that
    * changed ANY value would hash-fail — the rule is gated end-to-end,
    * not just unit-tested. The 16-wide signature is folded to one digest
    * so the compared column is scalar. */
  private val qSqlAutoNative = Q(
    "q_sql_auto_native",
    (s, dir) => {
      table(s, dir, "documents").createOrReplaceTempView("documents_an")
      s.sql(s"""
        WITH t AS (
          SELECT doc_id, split(lower(text), ' ') AS tl FROM documents_an
          WHERE size(split(lower(text), ' ')) >= 3),
        h AS (
          SELECT doc_id,
            transform(tl, x -> aggregate(
              transform(split(x, ''), c -> CAST(ascii(c) AS BIGINT)),
              0L, (h, c) -> (h * 131L + c) % ${P}L)) AS th
          FROM t),
        g AS (
          SELECT doc_id,
            array_distinct(transform(sequence(1, size(th) - 2),
              i -> ((element_at(th, i) * 131L + element_at(th, i + 1)) % ${P}L
                     * 131L + element_at(th, i + 2)) % ${P}L)) AS hs
          FROM h),
        sg AS (
          SELECT doc_id,
            transform(sequence(0, 15),
              i -> array_min(transform(hs,
                t -> ((2L * CAST(i AS BIGINT) + 1L) * t +
                      7919L * CAST(i AS BIGINT) + 1L) % ${P}L))) AS sig
          FROM g)
        SELECT doc_id,
          aggregate(sig, 0L, (a, x) -> (a * 131L + x) % ${P}L) AS sig_digest
        FROM sg ORDER BY doc_id""")
    },
    Some(s"""WITH t AS (
               SELECT doc_id, string_split(lower(text), ' ') AS tl
               FROM documents
               WHERE len(string_split(lower(text), ' ')) >= 3),
             h AS (
               SELECT doc_id,
                 list_transform(tl, x -> ${charHashSql("x")}) AS th
               FROM t),
             g AS (
               SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(th) - 2),
                   i -> ((th[i] * 131 + th[i+1]) % $P * 131 + th[i+2]) % $P)) AS hs
               FROM h),
             sg AS (
               SELECT doc_id, ${minhashSigSql("hs", 16)} AS sig FROM g)
             SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), sig),
                 (a, x) -> (a * 131 + x) % $P) AS sig_digest
             FROM sg ORDER BY doc_id"""))

  /** Scalar-subquery shape: customers above the global mean balance. The
    * single-row aggregate is broadcast — the standard uncorrelated-scalar
    * plan at any scale. Mean computed via fixed4 for bit-determinism. */
  private val qSubqueryScalar = Q(
    "q_subquery_scalar",
    (s, dir) => {
      val c = table(s, dir, "customer")
      val avgBal = c.agg(
        (sum(fixed4(col("c_acctbal")).cast("decimal(38,0)")) / lit(10000.0) /
          count(lit(1))).cast("double").as("avg_bal"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },
    Some(s"""SELECT c_custkey, c_acctbal FROM customer
             WHERE c_acctbal > (SELECT sum(${fixed4Sql("c_acctbal")}) / 10000.0 / count(*)
                                FROM customer)
             ORDER BY c_custkey"""))

  /** Correlated EXISTS subquery (TPC-H Q4 shape): orders in a window that
    * have at least one line shipped after the order date. Catalyst
    * decorrelates the EXISTS into a LEFT SEMI hash join on l_orderkey —
    * the scale shape: one shuffle per side on the join key, lineitem
    * never materialized per-order. The date filter lands on the orders
    * scan as a pushed parquet predicate. */
  private val qSubqueryExists = Q(
    "q_subquery_exists",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_v")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT o_orderpriority, count(*) AS n_late_orders
               FROM orders_v o
               WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01'
                 AND o_orderdate <  TIMESTAMP_NTZ '1996-07-01'
                 AND EXISTS (SELECT 1 FROM lineitem_v l
                             WHERE l.l_orderkey = o.o_orderkey
                               AND l.l_shipdate > o.o_orderdate)
               GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_late_orders
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Typed cogroup (KeyValueGroupedDataset.cogroup): per-key streaming
    * access to BOTH sides' rows — the general two-input per-key operator
    * the reference would express as a reducer over a tagged union
    * (MapReduceC.hs:26 with a sum-type value). Keys present on either
    * side are emitted (full-outer semantics).
    *
    * Scale shape: each side shuffles ONCE on the key and the cogroup
    * iterators stream — per-key state here is two counters, never a
    * materialized group. Customer side is ≤1 row/key; order side is
    * folded incrementally, so skewed customers don't buffer. */
  private val qTypedCogroup = Q(
    "q_typed_cogroup",
    (s, dir) => {
      import s.implicits._
      val c = table(s, dir, "customer")
        .select(col("c_custkey"), fixed4(col("c_acctbal")).as("bal_units"))
        .as[(Long, Long)]
      val o = table(s, dir, "orders")
        .select(col("o_custkey"), fixed4(col("o_totalprice")).as("price_units"))
        .as[(Long, Long)]
      c.groupByKey(_._1).cogroup(o.groupByKey(_._1)) { (k, cs, os) =>
        var nCust = 0L
        var balUnits = 0L
        cs.foreach { case (_, b) => nCust += 1; balUnits += b }
        var nOrders = 0L
        var spendUnits = 0L
        os.foreach { case (_, u) => nOrders += 1; spendUnits += u }
        Iterator((k, nCust, balUnits, nOrders, spendUnits))
      }.toDF("custkey", "n_cust", "bal_units", "n_orders", "spend_units")
        .select(col("custkey"), col("n_cust"), col("n_orders"),
          (col("bal_units") / 10000.0).as("acctbal"),
          (col("spend_units") / 10000.0).as("spend"))
        .orderBy("custkey")
    },
    Some(s"""SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
               CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS n_cust,
               COALESCE(o.n_orders, 0) AS n_orders,
               CAST(COALESCE(c.bal_units, 0) AS DOUBLE) / 10000.0 AS acctbal,
               CAST(COALESCE(o.spend_units, 0) AS DOUBLE) / 10000.0 AS spend
             FROM (SELECT c_custkey, ${fixed4Sql("c_acctbal")} AS bal_units
                   FROM customer) c
             FULL JOIN (SELECT o_custkey, count(*) AS n_orders,
                          sum(${fixed4Sql("o_totalprice")}) AS spend_units
                        FROM orders GROUP BY o_custkey) o
               ON c.c_custkey = o.o_custkey
             ORDER BY custkey"""))

  /** CORRELATED scalar subquery — the aggregate is parameterized by the
    * outer row's group, so Catalyst must decorrelate it
    * (DecorrelateInnerQuery): the subquery becomes one per-group
    * aggregation joined back on the correlation key — evaluated once per
    * GROUP, never once per row. The average is exact-integer inside
    * (sum of quantized units / count), so the boundary comparison sees
    * identical doubles on both engines. */
  private val qSubqueryCorrScalar = Q(
    "q_subquery_corr_scalar",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT o_orderkey, o_orderpriority, o_totalprice
               FROM orders_v o
               WHERE CAST(round(o_totalprice * 10000) AS BIGINT) > 1.8 * (
                 SELECT CAST(sum(CAST(round(o2.o_totalprice * 10000) AS BIGINT))
                             AS DOUBLE) / count(*)
                 FROM orders_v o2
                 WHERE o2.o_orderpriority = o.o_orderpriority)
               ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_orderpriority, o_totalprice
            FROM orders o
            WHERE CAST(round(o_totalprice * 10000) AS BIGINT) > 1.8 * (
              SELECT CAST(sum(CAST(round(o2.o_totalprice * 10000) AS BIGINT))
                          AS DOUBLE) / count(*)
              FROM orders o2
              WHERE o2.o_orderpriority = o.o_orderpriority)
            ORDER BY o_orderkey"""))

  /** LATERAL correlated subquery join — per outer row, a parameterized
    * derived table (here: each region's first two nations by name).
    * Catalyst plans the correlated LIMIT as a per-key window under a
    * join, not a per-row re-execution; the outer side here is a
    * broadcast-size dim, and at scale the lateral's per-key top-k is
    * exactly the WindowGroupLimit shape PlanPropertiesSpec pins. */
  private val qJoinLateral = Q(
    "q_join_lateral",
    (s, dir) => {
      table(s, dir, "region").createOrReplaceTempView("region_v")
      table(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql("""SELECT r.r_name, t.n_name, t.n_nationkey
               FROM region_v r,
               LATERAL (SELECT n_name, n_nationkey FROM nation_v n
                        WHERE n.n_regionkey = r.r_regionkey
                        ORDER BY n_name LIMIT 2) t
               ORDER BY r_name, n_name""")
    },
    Some("""SELECT r.r_name, t.n_name, t.n_nationkey
            FROM region r,
            LATERAL (SELECT n_name, n_nationkey FROM nation n
                     WHERE n.n_regionkey = r.r_regionkey
                     ORDER BY n_name LIMIT 2) t
            ORDER BY r_name, n_name"""))

  /** Fixed-round integer PageRank core over DIRECTED edges (src, dst):
    * ranks in micro-units, update r' = 150000 + (850·Σ (r div outdeg))
    * div 1000 — exact long arithmetic end to end ([[qGraphPagerank]]
    * documents why). Public so the ScalaCheck differential can drive it
    * with random graphs against a collections oracle. */
  def integerPageRank(edges: DataFrame, rounds: Int): DataFrame = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to rounds) {
      // `div` = exact integer division — `/` on longs is double division,
      // whose correctly-rounded result can cross an integer boundary the
      // true quotient doesn't; the oracle's `//` is exact floor division
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("CAST(150000 + (850 * coalesce(s, 0)) div 1000 AS BIGINT)").as("r"))
    }
    ranks
  }

  /** Convergence-driven fixpoint variant of [[integerPageRank]]: iterate
    * until NO node's rank changes, with a hard round cap — the
    * production loop shape, run by the [[graft.operators.Fixpoint]]
    * round driver under `policy`. Per round: one equi-join + one hash
    * aggregation, materialized by the policy so plan depth stays O(1)
    * across rounds. The convergence check is an OBSERVED metric on the
    * round's materialization itself (the previous rank rides along as a
    * column and `r != __prev` is summed map-side) — zero extra jobs.
    * Returns (ranks, roundsRun).
    *
    * The exact-integer fixpoint is ABSORBING: once r_k == r_{k-1} every
    * later round reproduces the same vector, so output-at-cap equals
    * output-at-convergence whether or not the early exit fired — which
    * is what lets a fixed-depth unrolled SQL oracle gate this query. */
  def integerPageRankFixpoint(
      edges: DataFrame, maxRounds: Int,
      policy: Fixpoint.Policy = Fixpoint.Local,
      broadcastNodeLimit: Long = 1000000L): (DataFrame, Int) = {
    val (ranks, rounds, _) =
      integerPageRankRun(edges, maxRounds, policy, broadcastNodeLimit)
    (ranks, rounds)
  }

  /** [[integerPageRankFixpoint]] with the run's round figures: (ranks,
    * rounds run by this call, committed round it resumed from). */
  def integerPageRankRun(edges: DataFrame, maxRounds: Int,
      policy: Fixpoint.Policy,
      broadcastNodeLimit: Long = 1000000L): (DataFrame, Int, Int) = {
    val changed = sum(when(col("r") =!= col("__prev"), 1L).otherwise(0L))
    val res = Fixpoint.run(edges.sparkSession, policy, maxRounds, Some(changed)) { in =>
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // out-degree folded onto each edge ONCE; rounds reuse the input
      val ed = in("edges",
        edges.join(outdeg, "src").select(col("src"), col("dst"), col("deg")))
      val nodes = in("nodes", ed.select(col("src").as("node"))
        .union(ed.select(col("dst").as("node"))).distinct())
      // a bounded rank vector broadcasts: the per-round message join then
      // streams the edge list map-side with NO edge shuffle (measured 3.6×
      // on the sf0.1 supplier-part graph). Past the limit — web-scale node
      // counts — every side hash-partitions on the key instead, the
      // message-passing shape that survives any node count.
      val bcast = nodes.count() <= broadcastNodeLimit
      def maybeB(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
      Fixpoint.Rounds(
        nodes.withColumn("r", lit(1000000L)),
        ranks => {
          val contrib = ed
            .join(maybeB(ranks.withColumnRenamed("node", "src")), "src")
            .select(col("dst").as("node"), expr("r div deg").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("s"))
          nodes.join(maybeB(contrib), Seq("node"), "left")
            .join(maybeB(ranks.withColumnRenamed("r", "__prev")), "node")
            .select(col("node"),
              expr("CAST(150000 + (850 * coalesce(s, 0)) div 1000 AS BIGINT)").as("r"),
              col("__prev"))
        })
    }
    (res.state, res.rounds, res.resumedFrom)
  }

  /** Fixed-iteration integer PageRank over the supplier↔part bipartite
    * graph (nodes: suppkey·2 / partkey·2+1; each distinct lineitem
    * (supplier, part) pair contributes both directed edges). Ranks are
    * held in integer micro-units with the classic integer-division
    * update r' = 150000 + (850·Σ contrib) div 1000, contrib = r div
    * outdeg — every step exact long arithmetic, so Spark and the chained-
    * CTE DuckDB oracle agree bit-for-bit after 3 rounds (float PageRank
    * would drift per merge order).
    *
    * Scale shape: per round, one equi-join of the rank vector to the
    * edge list (both hash-partitioned on the same key) + one hash
    * aggregation on dst — the standard message-passing round. Rounds are
    * FIXED (3), so plan depth is bounded; q_graph_pagerank_fixpoint runs
    * the production fixpoint loop with localCheckpoint per round. */
  private val qGraphPagerank = Q(
    "q_graph_pagerank",
    (s, dir) => {
      val pairs = table(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey")).distinct()
      val edges = pairs
        .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
        .union(pairs.select((col("l_partkey") * 2 + 1).as("src"), (col("l_suppkey") * 2).as("dst")))
      // round shuffles sized to the ~42k-node graph, not the session
      // default (Graft.withShufflePartitions doc: the caller knows the
      // per-round cardinality; each partition pays fixed per-task cost
      // every round)
      graft.core.Graft.withShufflePartitions(s, 8) {
        integerPageRank(edges, 3)
      }.orderBy(col("r").desc, col("node")).limit(25)
    },
    Some("""WITH pairs AS (
              SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
            edges AS (
              SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM pairs
              UNION ALL
              SELECT l_partkey * 2 + 1 AS src, l_suppkey * 2 AS dst FROM pairs),
            outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
            c1 AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                   FROM edges e JOIN r0 r ON e.src = r.node
                   JOIN outdeg d ON e.src = d.src GROUP BY e.dst),
            r1 AS (SELECT n.node,
                     CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
                   FROM nodes n LEFT JOIN c1 c ON n.node = c.node),
            c2 AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                   FROM edges e JOIN r1 r ON e.src = r.node
                   JOIN outdeg d ON e.src = d.src GROUP BY e.dst),
            r2 AS (SELECT n.node,
                     CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
                   FROM nodes n LEFT JOIN c2 c ON n.node = c.node),
            c3 AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                   FROM edges e JOIN r2 r ON e.src = r.node
                   JOIN outdeg d ON e.src = d.src GROUP BY e.dst),
            r3 AS (SELECT n.node,
                     CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
                   FROM nodes n LEFT JOIN c3 c ON n.node = c.node)
            SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT 25"""))

  /** Unrolled chained-CTE oracle for `rounds` message-passing rounds —
    * generated rather than hand-written so the fixpoint query's cap and
    * its oracle depth cannot drift apart. */
  private def pagerankUnrolledSql(rounds: Int): String = {
    val chain = (1 to rounds).map { i =>
      s"""c$i AS (SELECT e.dst AS node, sum(r.r // d.deg) AS s
                  FROM edges e JOIN r${i - 1} r ON e.src = r.node
                  JOIN outdeg d ON e.src = d.src GROUP BY e.dst),
          r$i AS (SELECT n.node,
                    CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
                  FROM nodes n LEFT JOIN c$i c ON n.node = c.node)"""
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
        edges AS (
          SELECT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM pairs
          UNION ALL
          SELECT l_partkey * 2 + 1 AS src, l_suppkey * 2 AS dst FROM pairs),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        $chain
        SELECT node, r FROM r$rounds ORDER BY r DESC, node LIMIT 25"""
  }

  /** Round cap for the gated fixpoint query — the oracle unrolls to
    * exactly this depth, so cap and oracle cannot drift. 4 bounds bench
    * cost (each round is a full eager job set); the loop machinery is
    * identical at any cap. */
  private val PrFixpointCap = 4

  /** [[integerPageRankFixpoint]] under the gate: the production
    * convergence loop (per-round stability check, localCheckpoint,
    * round cap) over the same supplier↔part graph as
    * [[qGraphPagerank]]. The oracle is the unrolled chain at exactly the
    * cap depth — correct whether or not the loop exits early, because
    * the integer fixpoint is absorbing (see the core's scaladoc); on
    * this graph the 0.85-damped ranks still move at the cap, so the
    * gate also exercises the not-yet-converged path end to end.
    * GraphSessionPropertySpec covers genuine early exit on graphs that
    * reach stability within the cap. */
  /** The supplier↔part bipartite edge list shared by the pagerank gates. */
  private def supplierPartEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = table(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
    pairs
      .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .union(pairs.select((col("l_partkey") * 2 + 1).as("src"), (col("l_suppkey") * 2).as("dst")))
  }

  private val qGraphPagerankFixpoint = Q(
    "q_graph_pagerank_fixpoint",
    (s, dir) => {
      // small-graph rounds: shuffle partitions scoped to key count
      graft.core.Graft.withShufflePartitions(s, 8) {
        integerPageRankFixpoint(supplierPartEdges(s, dir), PrFixpointCap)._1
      }.orderBy(col("r").desc, col("node")).limit(25)
    },
    Some(pagerankUnrolledSql(PrFixpointCap)))

  /** The same fixpoint gate under the DURABLE round policy
    * (`Fixpoint.Durable`): round state commits through the store each
    * iteration, so executor loss is a stage retry and driver loss
    * resumes at the last committed round —
    * the posture an hours-long 100 TB fixpoint needs
    * (DurableIterationKillSpec kills real executors mid-iteration and
    * hash-matches). Checkpoint dir wiped per run: resume belongs to one
    * logical job, never across corpora. Oracle = the same unrolled chain
    * at the cap — durability must not move a single rank. */
  private val qGraphPagerankDurable = Q(
    "q_graph_pagerank_durable",
    (s, dir) => {
      val ckpt = artifactDir(s, "ckpt", "q_graph_pagerank_durable")
      // small-graph rounds: shuffle partitions scoped to key count
      graft.core.Graft.withShufflePartitions(s, 8) {
        integerPageRankFixpoint(supplierPartEdges(s, dir), PrFixpointCap,
          Fixpoint.Durable(ckpt))._1
      }.orderBy(col("r").desc, col("node")).limit(25)
    },
    Some(pagerankUnrolledSql(PrFixpointCap)))

  /** SQL DDL + DML surface — the catalog path a SQL-first user takes:
    * CREATE TABLE in the session catalog, INSERT INTO ... SELECT from
    * the parquet corpus, UPDATE-shaped INSERT of a derived tier, then
    * aggregate the managed table — all through `spark.sql` text, no
    * DataFrame construction. Proves the engine's SQL entry is a full
    * surface (DDL, DML, queries over managed tables), not a single
    * SELECT. The managed table is dropped and recreated per run
    * (idempotent under the bench's repeated execution); the oracle
    * recomputes the same tiers straight from the source table. */
  private val qSqlDdl = Q(
    "q_sql_ddl",
    (s, dir) => {
      graft.queries.Sources.resetTable(s, "cust_tiers")
      val c = table(s, dir, "customer")
      c.createOrReplaceTempView("customer_src")
      s.sql("""CREATE TABLE cust_tiers (
                 c_custkey BIGINT, tier STRING, bal_fp BIGINT)
               USING parquet""")
      s.sql("""INSERT INTO cust_tiers
               SELECT c_custkey, 'premium',
                 CAST(round(c_acctbal * 10000) AS BIGINT)
               FROM customer_src WHERE c_acctbal >= 5000""")
      s.sql("""INSERT INTO cust_tiers
               SELECT c_custkey, 'standard',
                 CAST(round(c_acctbal * 10000) AS BIGINT)
               FROM customer_src WHERE c_acctbal < 5000""")
      s.sql("""SELECT tier, count(*) AS n_customers,
                 sum(bal_fp) AS bal_sum_fp
               FROM cust_tiers GROUP BY tier ORDER BY tier""")
    },
    Some("""SELECT CASE WHEN c_acctbal >= 5000 THEN 'premium'
                ELSE 'standard' END AS tier,
              count(*) AS n_customers,
              CAST(sum(CAST(round(c_acctbal * 10000) AS BIGINT)) AS BIGINT)
                AS bal_sum_fp
            FROM customer GROUP BY 1 ORDER BY 1"""))

  /** WITH RECURSIVE through Spark 4's SQL surface (UnionLoop execution):
    * a yearly calendar spine generated by recursion from the data's own
    * bounds, gap-proof-joined to the per-year order counts — the
    * date-spine continuity query every reporting layer runs, exercised
    * through the NEW recursive-CTE engine path rather than sequence()
    * (q_timeseries_fill gates that formulation). Iteration count = the
    * data's year span (7 here) — each recursive step is a materialized
    * batch, so spine granularity is the cost knob (a daily spine at this
    * span would be ~2400 steps: wrong tool — use sequence(); recursion
    * is for genuinely inductive state). */
  private val qSqlRecursive = Q(
    "q_sql_recursive",
    (s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_rec")
      s.sql("""
        WITH RECURSIVE bounds AS (
          SELECT date_trunc('year', min(o_orderdate)) AS lo,
                 date_trunc('year', max(o_orderdate)) AS hi
          FROM orders_rec),
        spine(y, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT y + INTERVAL '1' YEAR, hi FROM spine WHERE y < hi),
        rev AS (
          SELECT date_trunc('year', o_orderdate) AS y, count(*) AS n,
            sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS rev_fp
          FROM orders_rec GROUP BY 1)
        SELECT CAST(s.y AS TIMESTAMP_NTZ) AS year, coalesce(r.n, 0) AS n,
          coalesce(r.rev_fp, 0) AS rev_fp
        FROM spine s LEFT JOIN rev r ON s.y = r.y ORDER BY year""")
    },
    Some("""WITH RECURSIVE bounds AS (
              SELECT date_trunc('year', min(o_orderdate)) AS lo,
                     date_trunc('year', max(o_orderdate)) AS hi
              FROM orders),
            spine(y, hi) AS (
              SELECT lo, hi FROM bounds
              UNION ALL
              SELECT y + INTERVAL 1 YEAR, hi FROM spine WHERE y < hi),
            rev AS (
              SELECT date_trunc('year', o_orderdate) AS y, count(*) AS n,
                CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT)) AS BIGINT)
                  AS rev_fp
              FROM orders GROUP BY 1)
            SELECT s.y AS year, coalesce(r.n, 0) AS n,
              coalesce(r.rev_fp, 0) AS rev_fp
            FROM spine s LEFT JOIN rev r ON s.y = r.y ORDER BY year"""))

  override val queries: Seq[Q] = Seq(
    qJoinRange, qJoinInterval, qJoinAsof, qJoinAsofNative, qJoinAsofFwd,
    qJoinAsofFwdNative,
    qJoinAsofNearest, qJoinAsofNearestNative, qJoinSalted, qTypedJoinWith,
    qAggTypedWavg, qAggTopkTyped, qAggFlatMapGroups, qAggPivot, qSqlEntry,
    qSqlAutoNative, qSubqueryScalar, qSubqueryExists, qSubqueryCorrScalar,
    qJoinLateral, qTypedCogroup, qGraphPagerank, qGraphPagerankFixpoint,
    qGraphPagerankDurable,
    qSqlDdl, qSqlRecursive)

  case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  case class Region(r_regionkey: Int, r_name: String)
}
