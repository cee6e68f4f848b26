package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Graft._

/** Source/sink formats beyond parquet (SURVEY §2.2 "Scans/sources/
  * sinks"; reference LocalFileStore, /root/reference/src/Core/Store.hs:68-83).
  * Each query round-trips a table through the format and re-aggregates, so
  * the oracle (reading the original parquet) proves the round-trip was
  * lossless.
  */
object Sources extends QueryGroup {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val qSourceCsv = Q(
    "q_source_csv_roundtrip",
    (s, dir) => {
      val n = table(s, dir, "nation")
      val out = tmpDir("csv")
      n.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(n.schema).option("header", "true").csv(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  private val qSourceJson = Q(
    "q_source_json_roundtrip",
    (s, dir) => {
      val r = table(s, dir, "region")
      val out = tmpDir("json")
      r.write.mode("overwrite").json(out)
      s.read.schema(r.schema).json(out)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  /** XML source/sink roundtrip — the spark-xml data source, built into
    * Spark since 4.0 (rowTag framing, schema-on-read like JSON). The
    * read carries the writer's schema explicitly so types survive the
    * text roundtrip, same discipline as the CSV/JSON twins. */
  private val qSourceXml = Q(
    "q_source_xml_roundtrip",
    (s, dir) => {
      val n = table(s, dir, "nation")
      val out = tmpDir("xml")
      n.write.mode("overwrite").option("rowTag", "nation").xml(out)
      s.read.schema(n.schema).option("rowTag", "nation").xml(out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          max(col("n_name")).as("last_nation"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, count(*) AS n_nations, max(n_name) AS last_nation
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  private val qSourceOrc = Q(
    "q_source_orc_roundtrip",
    (s, dir) => {
      val su = table(s, dir, "supplier")
      val out = tmpDir("orc")
      su.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          moneySum(col("s_acctbal")).as("acct_total"))
        .orderBy(col("s_nationkey"))
    },
    Some(s"""SELECT s_nationkey, count(*) AS n_supp,
               ${moneySumSql("s_acctbal")} AS acct_total
             FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** Line-oriented text source/sink: region serialized as tab-joined
    * lines, read back with spark.read.text and re-parsed — the schema-free
    * end of the source spectrum (the reference's whole-partition `show`
    * strings are exactly this shape). */
  private val qSourceText = Q(
    "q_source_text_roundtrip",
    (s, dir) => {
      val r = table(s, dir, "region")
      val out = tmpDir("text")
      r.select(concat_ws("\t", col("r_regionkey"), col("r_name")))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(split(col("value"), "\t").as("f"))
        .select(element_at(col("f"), 1).cast("long").as("r_regionkey"),
          element_at(col("f"), 2).as("r_name"))
        .orderBy(col("r_regionkey"))
    },
    Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))

  /** Partitioned-parquet sink + re-scan with partition pruning: writes
    * orders partitioned by status, reads back ONE partition — the scan
    * must touch only that directory (partition pruning at the source). */
  private val qSourcePartitioned = Q(
    "q_source_partitioned_parquet",
    (s, dir) => {
      val o = table(s, dir, "orders")
      val out = tmpDir("part_parquet")
      o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
      graft.core.Graft.cachedSchemaParquet(s, out)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
               ${moneySumSql("o_totalprice")} AS total
             FROM orders WHERE o_orderstatus = 'F'
             GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Bucketed tables + co-located join (SURVEY "Partitioning & shuffle":
    * bucketing for co-located joins). orders and customer are written
    * bucketed+sorted on the join key into the session catalog; the join
    * of the two bucketed scans then needs NO shuffle of either side — the
    * plan is Exchange-free up to the final aggregation. At 100 TB this is
    * the difference between re-shuffling the fact table per query and
    * reading co-located buckets. BucketedJoinSpec asserts the
    * Exchange-free plan property. */
  /** saveAsTable refuses a managed-table location left behind by an
    * earlier JVM (fresh in-memory metastore, stale warehouse dir) — drop
    * both the catalog entry and the directory first. */
  def resetTable(s: org.apache.spark.sql.SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    graft.sources.KvCommitLog.rmTree(loc)
  }

  private val qSourceBucketedJoin = Q(
    "q_source_bucketed_join",
    (s, dir) => {
      resetTable(s, "orders_bkt")
      resetTable(s, "customer_bkt")
      table(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bkt")
      table(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("customer_bkt")
      s.table("orders_bkt")
        .join(s.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
               ${moneySumSql("o_totalprice")} AS total
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Custom DataSource V2 connector (sources/SeqSource): deterministic
    * synthetic sequence with column pruning + id-range filter pushdown —
    * the filter reaches the connector and narrows the generated interval
    * before split planning. Oracle = DuckDB range() with the same integer
    * arithmetic. */
  private val qSourceDsv2 = Q(
    "q_source_dsv2",
    (s, dir) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000").option("partitions", "8").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("val4")).as("val4_sum"))
        .orderBy(col("tag"))
    },
    Some("""SELECT 't' || CAST(i % 10 AS VARCHAR) AS tag, count(*) AS n,
              CAST(sum((i * 7919) % 10007) AS BIGINT) AS val4_sum
            FROM (SELECT unnest(range(25000, 75000)) AS i)
            GROUP BY tag ORDER BY tag"""))

  /** COMPLETE aggregate pushdown into the DSv2 connector
    * (`SupportsPushDownAggregates`, sources/SeqSource): count/min/max/sum
    * grouped by `tag` are answered by the connector in closed form — the
    * executed plan contains NO aggregate node and the scan generates zero
    * source rows (SeqSourceSpec pins both). This is the 100 TB shape where
    * the storage layer answers from metadata (parquet footers, warehouse
    * server-side aggregation) instead of shipping a table to compute a
    * count. The id-range filter composes: it is pushed first and the
    * closed forms respect the narrowed interval. */
  private val qSourceDsv2Agg = Q(
    "q_source_dsv2_agg",
    (s, dir) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000").option("partitions", "8").load()
        .filter(col("id") >= 123L && col("id") < 54321L)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("id_min"),
          max(col("id")).as("id_max"), sum(col("id")).as("id_sum"))
        .orderBy(col("tag"))
    },
    Some("""SELECT 't' || CAST(i % 10 AS VARCHAR) AS tag, count(*) AS n,
              min(i) AS id_min, max(i) AS id_max, CAST(sum(i) AS BIGINT) AS id_sum
            FROM (SELECT unnest(range(123, 54321)) AS i)
            GROUP BY tag ORDER BY tag"""))

  /** Top-N pushdown into the DSv2 connector (`SupportsPushDownTopN` +
    * `SupportsPushDownLimit`): ORDER BY id DESC LIMIT n plans an n-row
    * tail slice of the (filter-narrowed) interval instead of generating
    * the full table and sorting it — the source stops producing data it
    * knows will be discarded; Spark's residual sort+limit sees exactly n
    * rows. SeqSourceSpec pins the planned interval. */
  private val qSourceDsv2Topn = Q(
    "q_source_dsv2_topn",
    (s, dir) => {
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "100000000").option("partitions", "8").load()
        .filter(col("id") < 90000000L)
        .orderBy(col("id").desc)
        .limit(7)
        .select(col("id"), col("val4"), col("tag"))
    },
    Some("""SELECT i AS id, (i * 7919) % 10007 AS val4,
              't' || CAST(i % 10 AS VARCHAR) AS tag
            FROM (SELECT unnest(range(89999993, 90000000)) AS i)
            ORDER BY id DESC"""))

  /** Custom DataSource V2 SINK + SOURCE round trip (sources/KvSink →
    * sources/KvSource): per-nation customer counts written through the
    * two-phase-commit kv sink, read back through the kv SOURCE connector
    * (one split per committed file, `_staging` invisible), and gated
    * against the oracle computing the same aggregation directly — the
    * round trip proves the staged-file commit protocol publishes exactly
    * the task outputs AND that the source reads exactly what was
    * committed. */
  private val qSinkDsv2 = Q(
    "q_sink_dsv2",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_sink_dsv2")
      table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey").as("k"), col("n").as("v"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out).option("schema", "k LONG, v LONG").load()
        .orderBy("k")
    },
    Some("""SELECT c_nationkey AS k, count(*) AS v
            FROM customer GROUP BY 1 ORDER BY k"""))

  /** KV source with connector-side filtering — the reference's
    * `getDataFromPat` shape (Store.hs:99-119: hscan with a match pattern
    * narrows what the store RETURNS, not what the client discards).
    * Three-column kv data is written once; the read projects two columns
    * (pruning) and filters on key range + segment (pushdown) — both land
    * in the connector, so a selective read parses-and-drops inside the
    * reader instead of shipping every row to Spark. The filter on the
    * group key commutes with the aggregation, so the oracle applies it as
    * a plain WHERE. */
  private val qSourceKv = Q(
    "q_source_kv",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv")
      table(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey").as("k"), col("c_mktsegment").as("seg"),
          col("n").as("v"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, seg STRING, v LONG").load()
        .filter(col("k") >= 10L && col("seg") === "BUILDING")
        .select(col("k"), col("v"))
        .orderBy("k")
    },
    Some("""SELECT c_nationkey AS k, count(*) AS v
            FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_nationkey >= 10
            GROUP BY 1 ORDER BY k"""))

  /** ZONE-MAP FILE SKIPPING over the Store (sources/KvSink `KvZoneMap` +
    * sources/KvSource): the 2PC sink publishes per-file integer min/max
    * sidecars at commit (the task sees every row anyway — stats are
    * free); the source consults them at SPLIT PLANNING, so a selective
    * key predicate over a range-partitioned store opens only the files
    * whose range covers it — the Store-native analog of parquet row-group
    * stats / Iceberg manifest ranges. KvZoneMapSpec pins the actual
    * file-skip counts (8 listed → 1 planned for a point lookup); this
    * gate pins that pruning never changes answers. 100 TB shape: sidecars
    * are driver-side metadata, and the scan cost of a key lookup becomes
    * proportional to the MATCHING data, not the store size. */
  private val qSourceKvZonemap = Q(
    "q_source_kv_zonemap",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_zonemap")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          col("o_orderpriority").as("prio"))
        .repartitionByRange(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, cust LONG, prio STRING").load()
        .filter(col("k") >= 1000L && col("k") < 3000L)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("cust")).as("cust_sum"))
        .orderBy(col("prio"))
    },
    Some("""SELECT o_orderpriority AS prio, count(*) AS n,
              min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
              CAST(sum(o_custkey) AS BIGINT) AS cust_sum
            FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
            GROUP BY prio ORDER BY prio"""))

  /** STATS-ANSWERED aggregates over the Store (`SupportsPushDownAggregates`
    * on sources/KvSource): ungrouped, unfiltered count/min/max fold the
    * committed zone-map sidecars — `count(*)` over the store is a
    * metadata fold, not a scan (the executed plan has NO aggregate node
    * and opens no data file; KvZoneMapSpec proves the no-open claim by
    * corrupting a data file under an intact sidecar). The manifest-count
    * path every real table format has; at 100 TB the difference between
    * a driver-side metadata fold and a full-store read. */
  private val qSourceKvAgg = Q(
    "q_source_kv_agg",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_agg")
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("pk"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(8)
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, pk LONG, qty LONG").load()
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), min(col("qty")).as("qty_min"),
          max(col("qty")).as("qty_max"), sum(col("qty")).as("qty_sum"))
    },
    Some("""SELECT count(*) AS n, min(l_orderkey) AS k_min,
              max(l_orderkey) AS k_max,
              CAST(min(l_quantity) AS BIGINT) AS qty_min,
              CAST(max(l_quantity) AS BIGINT) AS qty_max,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
            FROM lineitem"""))

  /** TYPED zone-map pruning — the double/string families: a store
    * range-partitioned by MONEY (o_totalprice) prunes on a price range
    * from the double sidecar bounds (bounds are COMPARED, never summed —
    * the exactness discipline holds: sums below go through fixed4), and
    * the string family prunes equality/range predicates on text columns
    * (lexicographic bounds, percent-escaped in the sidecar so framing
    * characters round-trip — KvZoneMapSpec pins both and the escape).
    * The shape every real table format has: numeric AND string column
    * ranges in metadata, so a "price between" or "category =" scan
    * opens only the covering files. */
  private val qSourceKvZonemapTyped = Q(
    "q_source_kv_zonemap_typed",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_zonemap_typed")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("prio"))
        .repartitionByRange(8, col("price"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, price DOUBLE, prio STRING").load()
        .filter(col("price") >= 100000.0 && col("price") < 150000.0 &&
          col("prio") <= "3-MEDIUM")
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          moneySum(col("price")).as("price_sum"))
        .orderBy(col("prio"))
    },
    Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
               min(o_orderkey) AS k_min,
               ${moneySumSql("o_totalprice")} AS price_sum
             FROM orders
             WHERE o_totalprice >= 100000.0 AND o_totalprice < 150000.0
               AND o_orderpriority <= '3-MEDIUM'
             GROUP BY prio ORDER BY prio"""))

  /** BLOOM-FILTER FILE SKIPPING over the Store (sources/KvBloom +
    * sources/KvSink `#bf` sidecar lines): the pruning tier zone maps
    * cannot provide once every file's [min, max] spans the key domain —
    * here the store is HASH-distributed on the key (`repartition(8)`),
    * so all 8 files carry overlapping full-range bounds and bounds-only
    * planning opens every one. With `bloomColumns=k,prio` each file's
    * sidecar carries an opt-in ~9.6-bits/distinct-value Bloom filter
    * (1% FPP, no false negatives by construction), and a point lookup
    * (`k IN (...)`, `prio = '...'` — the GDPR/CDC "find this entity"
    * shape) skips every file the filter PROVES clean. KvBloomSpec pins
    * the actual skip counts and the no-false-negative property; this
    * gate pins that bloom pruning never changes answers. 100 TB shape:
    * the lookup cost tracks the files that HOLD the key, not the store
    * size — on hash layouts where bounds are useless. */
  private val qSourceKvBloom = Q(
    "q_source_kv_bloom",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_bloom")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          col("o_orderpriority").as("prio"))
        .repartition(8) // hash layout: every file spans the key domain
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out)
        .option("bloomColumns", "k,prio")
        .mode("append").save()
      val t = s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, cust LONG, prio STRING").load()
      t.filter(col("k").isin(7L, 1988L, 4000L, 29476L))
        .select(col("k"), col("cust"), col("prio"))
        .unionAll(
          t.filter(col("prio") === "1-URGENT" && col("k") < 500L)
            .select(col("k"), col("cust"), col("prio")))
        .orderBy(col("k"), col("cust"), col("prio"))
    },
    Some("""SELECT k, cust, prio FROM (
              SELECT o_orderkey AS k, o_custkey AS cust,
                     o_orderpriority AS prio
              FROM orders WHERE o_orderkey IN (7, 1988, 4000, 29476)
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderpriority
              FROM orders
              WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 500
            ) ORDER BY k, cust, prio"""))

  /** GROUPED stats-answered aggregate — `GROUP BY partition_column` over
    * a value-partitioned store folds each value's sidecars: per-group
    * row counts and integer min/max come entirely from commit metadata
    * (per-file bounds are exact and a group is a union of whole files),
    * with a row-level parse fallback for statless/foreign files. The
    * partition-level rollup every table format answers from its
    * manifest; plan has NO aggregate node (KvSpjSpec pins it). */
  private val qSourceKvAggGrouped = Q(
    "q_source_kv_agg_grouped",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_agg_grouped")
      table(s, dir, "customer")
        .select(col("c_nationkey").as("nk"), col("c_custkey").as("ck"))
        .repartition(8, col("nk"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).option("partitionColumn", "nk")
        .mode("append").save()
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", out).option("schema", "nk LONG, ck LONG")
        .option("partitionedBy", "nk").load()
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n"), min(col("ck")).as("ck_min"),
          max(col("ck")).as("ck_max"), sum(col("ck")).as("ck_sum"))
        .orderBy(col("nk"))
    },
    Some("""SELECT c_nationkey AS nk, count(*) AS n,
              min(c_custkey) AS ck_min, max(c_custkey) AS ck_max,
              CAST(sum(c_custkey) AS BIGINT) AS ck_sum
            FROM customer GROUP BY nk ORDER BY nk"""))

  /** RUNTIME file skipping — dynamic partition pruning for the custom
    * Store (`SupportsRuntimeV2Filtering`): the selective build side of a
    * broadcast join hands its materialized join-key set to the scan
    * BEFORE split planning, and the same zone-map check drops every
    * committed file whose range covers none of the keys. The predicate
    * arrives at RUNTIME (it is data, not a literal in the query), which
    * is exactly the case static pushdown cannot reach — the fact-table
    * scan of a star join reads only the files the dimension's surviving
    * keys touch. Correctness never depends on it (the join still
    * filters); KvZoneMapSpec pins that the files are actually skipped. */
  private val qSourceKvRuntimePrune = Q(
    "q_source_kv_runtime_prune",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_runtime")
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"),
          // TPC-H quantities are whole numbers carried as double — cast
          // exactly to keep the integer-sum discipline through the store
          col("l_quantity").cast("long").as("qty"),
          col("l_linenumber").as("ln"))
        .repartitionByRange(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      val fact = s.read.format("graft.sources.KvSourceProvider")
        .option("path", out)
        .option("schema", "k LONG, qty LONG, ln INT").load()
      val dim = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") < 500L)
        .select(col("o_orderkey").as("k"), col("o_custkey"))
      fact.join(broadcast(dim), "k")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("qty_sum"),
          max(col("o_custkey")).as("cust"))
        .orderBy(col("k"))
    },
    Some("""SELECT l_orderkey AS k, count(*) AS n_lines,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
              max(o_custkey) AS cust
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 500
            GROUP BY k ORDER BY k"""))

  /** STORAGE-PARTITIONED JOIN over the Store (sink `partitionColumn` +
    * source `partitionedBy` → `SupportsReportPartitioning` with
    * `KeyGroupedPartitioning(identity(k))` and per-split `HasPartitionKey`):
    * two stores CO-PARTITIONED BY VALUE at write time join at read time
    * with ZERO shuffle — Spark lines their splits up by partition key
    * (`spark.sql.sources.v2.bucketing.enabled`), and the grouped
    * aggregation above the join reuses the same clustering. KvSpjSpec
    * pins the plan (no Exchange anywhere under a SortMergeJoin); this
    * gate pins the values. The 100 TB shape: the bucketed co-located
    * join (q_source_bucketed_join) re-expressed for the engine's own
    * Store — partition once at ingest, never move either fact table
    * again. */
  private val qSourceKvSpj = Q(
    "q_source_kv_spj",
    (s, dir) => {
      val outC = artifactDir(s, "kvsink", "q_spj_cust")
      val outS = artifactDir(s, "kvsink", "q_spj_supp")
      table(s, dir, "customer")
        .select(col("c_nationkey").as("k"), col("c_custkey").as("ck"))
        .repartition(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", outC).option("partitionColumn", "k")
        .mode("append").save()
      table(s, dir, "supplier")
        .select(col("s_nationkey").as("k"), col("s_suppkey").as("sk"))
        .repartition(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", outS).option("partitionColumn", "k")
        .mode("append").save()
      withConf(s,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        def rd(p: String, vc: String) =
          s.read.format("graft.sources.KvSourceProvider")
            .option("path", p).option("schema", s"k LONG, $vc LONG")
            .option("partitionedBy", "k").load()
        rd(outC, "ck").join(rd(outS, "sk"), "k")
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("ck")).as("ck_sum"),
            max(col("sk")).as("sk_max"))
          .orderBy(col("k"))
          // settle the plan inside the conf window; the gate hashes rows
          .localCheckpoint()
      }
    },
    Some("""SELECT c_nationkey AS k, count(*) AS n_pairs,
              CAST(sum(c_custkey) AS BIGINT) AS ck_sum,
              max(s_suppkey) AS sk_max
            FROM customer JOIN supplier ON c_nationkey = s_nationkey
            GROUP BY k ORDER BY k"""))

  /** BUCKETED storage-partitioned join — the HIGH-cardinality twin of
    * [[qSourceKvSpj]]: identity partitioning needs few distinct values,
    * so real fact⨝fact joins co-partition by a derived BUCKET column
    * (orderkey % 32 here; any deterministic hash works). Both stores are
    * written `partitionColumn=b`, the join condition carries the
    * (redundant, declarative) bucket equality alongside the key, and
    * clustering {b} ⊆ join keys {k, b} lets Spark line the two stores up
    * split-for-split — the TPC-H orders⨝lineitem join with ZERO
    * shuffle of either side. This is manual Hive bucketing re-expressed
    * through DSv2 key-grouped partitioning, the layout a 100 TB ingest
    * would choose for its hottest join key. */
  private val qSourceKvSpjBucketed = Q(
    "q_source_kv_spj_bucketed",
    (s, dir) => {
      val outO = artifactDir(s, "kvsink", "q_spjb_orders")
      val outL = artifactDir(s, "kvsink", "q_spjb_lineitem")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), (col("o_orderkey") % 32L).as("b"),
          col("o_custkey").as("cust"))
        .repartition(8, col("b"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", outO).option("partitionColumn", "b")
        .mode("append").save()
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), (col("l_orderkey") % 32L).as("b"),
          col("l_quantity").cast("long").as("qty"))
        .repartition(8, col("b"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", outL).option("partitionColumn", "b")
        .mode("append").save()
      // join keys {k, b} are a SUPERSET of partition keys {b}: sound
      // (equal b => same split pair) but gated by a planner conf that
      // defaults to requiring the full key match
      withConf(s,
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
        def rd(p: String, vc: String) =
          s.read.format("graft.sources.KvSourceProvider")
            .option("path", p).option("schema", s"k LONG, b LONG, $vc LONG")
            .option("partitionedBy", "b").load()
        rd(outO, "cust").join(rd(outL, "qty"), Seq("k", "b"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("qty_sum"),
            max(col("cust")).as("cust_max"))
          .orderBy(col("b"))
          .localCheckpoint()
      }
    },
    Some("""SELECT o_orderkey % 32 AS b, count(*) AS n_lines,
              CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
              max(o_custkey) AS cust_max
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY b ORDER BY b"""))

  /** KV read over a LIVE network server — the last fidelity gap to the
    * reference's Redis store, which talks a real protocol to an external
    * server (hscan with match pattern + count-1000 paging,
    * Store.hs:99-119; connection at ImplServer.hs:34-46). Same write +
    * filter/prune contract as [[qSourceKv]] and the SAME oracle, but the
    * read goes through sources/KvDaemon: split planning makes one
    * SCAN-paged name listing over the socket, then each task GET-streams
    * exactly one committed field. Connector-side filtering still applies
    * — rows are parsed and dropped at the reader, never shipped to Spark.
    *
    * Scale shape: the daemon stands where a real KV cluster would; the
    * driver's planning traffic is names-only, data moves per-task, and
    * parallelism stays one-split-per-committed-field, identical to the
    * file path. */
  private val qSourceKvNet = Q(
    "q_source_kv_net",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_source_kv_net")
      table(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey").as("k"), col("c_mktsegment").as("seg"),
          col("n").as("v"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      val port = graft.sources.KvDaemon.ensure(out)
      s.read.format("graft.sources.KvSourceProvider")
        .option("endpoint", s"127.0.0.1:$port")
        .option("schema", "k LONG, seg STRING, v LONG").load()
        .filter(col("k") >= 10L && col("seg") === "BUILDING")
        .select(col("k"), col("v"))
        .orderBy("k")
    },
    Some("""SELECT c_nationkey AS k, count(*) AS v
            FROM customer
            WHERE c_mktsegment = 'BUILDING' AND c_nationkey >= 10
            GROUP BY 1 ORDER BY k"""))

  /** Z-ORDER layout key — multi-dimensional clustering for data
    * skipping: the 16+16-bit Morton interleave (codegen'd
    * graft_zorder kernel) of customer key × order day. Sorting or
    * range-partitioning a table by this key co-locates rows close in
    * BOTH dimensions, so parquet row-group min/max stats become
    * selective for two-dimensional predicates — at 100 TB this is the
    * difference between scanning a shard and scanning the table when
    * queries filter on two columns at once. The gate checks the curve
    * index values bit-for-bit (DuckDB recomputes the interleave with
    * integer bit ops); the measured skipping win — z-ordered layout
    * reads a fraction of the row groups a single-column sort reads
    * under a two-dimensional predicate — is pinned in
    * ZOrderLayoutSpec. */
  private val qZorderLayout = Q(
    "q_zorder_layout",
    (s, dir) => {
      table(s, dir, "orders")
        .select(col("o_orderkey"),
          call_function("graft_zorder",
            col("o_custkey").cast("long"),
            unix_date(col("o_orderdate").cast("date")).cast("long")).as("z"))
        .orderBy("z", "o_orderkey")
    },
    Some("""SELECT o_orderkey,
              CAST(list_sum(list_transform(generate_series(0, 15), i ->
                (((o_custkey % 65536) >> i) & 1) * (1 << (2*i))
                + (((datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) % 65536) >> i) & 1)
                  * (1 << (2*i + 1))))
              AS BIGINT) AS z
            FROM orders ORDER BY z, o_orderkey"""))

  /** File-level zone-map pruning (operators/ZoneMaps): orders is laid
    * out as 8 range-partitioned key-sorted parquet files, a per-file
    * (min,max) manifest is derived, and the range query opens ONLY the
    * manifest-selected files with the residual filter on top — the
    * Delta/Iceberg manifest-pruning discipline over plain parquet. The
    * oracle computes the same aggregate over the unpartitioned table, so
    * the gate proves pruned-read ≡ full-scan-and-filter; the
    * files-opened < files-total evidence is pinned in ZoneMapSpec (the
    * count depends on sampled range boundaries, so it belongs in a spec,
    * not in hash-gated output). */
  private val qZonemapPrune = Q(
    "q_zonemap_prune",
    (s, dir) => {
      val root = artifactDir(s, "zonemap", "q_zonemap_prune")
      graft.operators.ZoneMaps.writeLayout(
        table(s, dir, "orders"), "o_orderkey", 8, root)
      val (_, _, pruned) = graft.operators.ZoneMaps.prunedRead(
        s, root, "o_orderkey", 1000L, 3000L)
      pruned
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n,
               ${moneySumSql("o_totalprice")} AS revenue
             FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
             GROUP BY 1 ORDER BY 1"""))

  /** SCHEMA EVOLUTION across corpus batches — the 100 TB operational
    * reality that a crawl's schema drifts mid-corpus: an early batch is
    * written WITHOUT a column a later batch has (`o_orderstatus` added
    * between ingestion eras). The read side stitches the eras with
    * parquet schema merging (`mergeSchema` — per-file footers unioned at
    * plan time, missing columns null-filled per row group) and
    * normalizes the gap explicitly (`coalesce` to a sentinel) before
    * aggregating. The oracle recomputes both eras from the source table,
    * so a dropped column, a misaligned null-fill, or era rows leaking
    * into each other all break the hash.
    *
    * Scale shape: schema merge is footer metadata work at planning time
    * (bounded by file count, same discipline as the zone-map manifest);
    * the scan itself stays a plain columnar read with pushdown — no
    * per-row branching beyond the one coalesce. */
  private val qSourceSchemaEvolution = Q(
    "q_source_schema_evolution",
    (s, dir) => {
      val out = tmpDir("schema_evo")
      val o = table(s, dir, "orders")
      // era 1: before the status column existed
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/era=1")
      // era 2: the schema grew a column
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/era=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/era=1", s"$out/era=2")
        .withColumn("status", coalesce(col("o_orderstatus"), lit("UNKNOWN")))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy(col("status"))
    },
    Some(s"""SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
               ELSE 'UNKNOWN' END AS status, count(*) AS n,
               ${moneySumSql("o_totalprice")} AS revenue
             FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Snapshot TIME TRAVEL over the Store's commit log (sources/KvCommitLog):
    * two successive sink commits build per-nation counts — commit 1 the
    * nations below 10, commit 2 the rest — and the query reads the store
    * twice: `asOfCommit=1` (must see ONLY the first commit's files, though
    * the second commit's files sit in the same directory) and the latest
    * view (both commits). Gated as one result with a `snap` column; the
    * oracle recomputes each snapshot's content from the source table, so
    * any time-travel leak (late file visible early, early file lost late)
    * breaks the hash.
    *
    * Scale shape: the log is metadata — one small manifest per commit,
    * read once at plan time; snapshot selection never touches data files
    * beyond the planned splits. */
  private val qStoreTimetravel = Q(
    "q_store_timetravel",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_store_timetravel")
      val counts = table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
        .select(col("c_nationkey").as("k"), col("n").as("v"))
      for (half <- Seq(counts.filter(col("k") < 10), counts.filter(col("k") >= 10)))
        half.write.format("graft.sources.KvSinkProvider")
          .option("path", out).mode("append").save()
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", "k LONG, v LONG")
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      readAsOf(Some(1)).withColumn("snap", lit(1L))
        .unionAll(readAsOf(None).withColumn("snap", lit(2L)))
        .select("snap", "k", "v")
        .orderBy("snap", "k")
    },
    Some("""SELECT CAST(1 AS BIGINT) AS snap, c_nationkey AS k, count(*) AS v
            FROM customer WHERE c_nationkey < 10 GROUP BY 1, 2
            UNION ALL
            SELECT CAST(2 AS BIGINT) AS snap, c_nationkey AS k, count(*) AS v
            FROM customer GROUP BY 1, 2
            ORDER BY snap, k"""))

  /** SNAPSHOT DIFF over the Store's commit log — the migration-audit
    * operation on top of q_store_timetravel's versioned reads: commit 1
    * lands the baseline per-nation counts (nations < 20 only), commit 2
    * appends CORRECTIONS (full counts, even nations only); the diff
    * resolves the latest view per key by last-commit-wins (max_by over
    * the carried commit column — the append-log → upsert-table
    * resolution q_dedup_latest gates standalone), reads the baseline
    * back through asOfCommit=1, and emits every added/changed key with
    * old and new values. At warehouse scale this is two manifest-pruned
    * snapshot scans + one key-partitioned full join — no data is
    * rewritten to compute the audit. */
  private val qStoreTimediff = Q(
    "q_store_timediff",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_store_timediff")
      val counts = table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("v"))
        .select(col("c_nationkey").as("k"), col("v"))
      counts.filter(col("k") < 20).withColumn("c", lit(1L))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      counts.filter(col("k") % 2 === 0).withColumn("c", lit(2L))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", "k LONG, v LONG, c LONG")
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      val v1 = readAsOf(Some(1)).select(col("k"), col("v").as("v_old"))
      val latest = readAsOf(None).groupBy(col("k"))
        .agg(max_by(col("v"), col("c")).as("v_new"))
      v1.join(latest, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("v_old").isNull, "added")
            .when(col("v_new") =!= col("v_old"), "changed")
            .otherwise("unchanged"))
        .filter(col("status") =!= "unchanged")
        .select("k", "status", "v_old", "v_new")
        .orderBy("k")
    },
    Some("""WITH v1 AS (
              SELECT c_nationkey AS k, count(*) AS v FROM customer
              WHERE c_nationkey < 20 GROUP BY 1),
            v2d AS (
              SELECT c_nationkey AS k, count(*) AS v FROM customer
              WHERE c_nationkey % 2 = 0 GROUP BY 1),
            res AS (
              SELECT coalesce(d.k, v1.k) AS k, v1.v AS v_old,
                coalesce(d.v, v1.v) AS v_new
              FROM v1 FULL JOIN v2d d ON v1.k = d.k)
            SELECT k,
              CASE WHEN v_old IS NULL THEN 'added'
                   WHEN v_new <> v_old THEN 'changed'
                   ELSE 'unchanged' END AS status,
              v_old, v_new
            FROM res WHERE v_old IS NULL OR v_new <> v_old
            ORDER BY k"""))

  /** ROW-LEVEL DELETE through the Store's commit log (sources/KvStore):
    * a range predicate deletes rows copy-on-write — only the files whose
    * committed zone-map bounds intersect [1000, 3000) are rewritten
    * (executor-side, one task per file), the untouched files stay
    * byte-identical, and the whole mutation is ONE CAS-published log
    * version. The gate reads BOTH the post-delete latest view and the
    * pre-delete snapshot (`asOfCommit=1`) — a delete that leaked a row,
    * dropped a bystander, or destroyed history breaks the hash. The
    * Delta/Iceberg DELETE FROM discipline on the engine's own Store;
    * the reference's mutable-store surface (Store.hs:41-67 saveData
    * overwrite) re-expressed as versioned copy-on-write. */
  private val qStoreDelete = Q(
    "q_store_delete",
    (s, dir) => {
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val out = artifactDir(s, "kvsink", "q_store_delete")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          col("o_orderpriority").as("prio"))
        .repartitionByRange(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      graft.sources.KvStore.deleteWhere(s, out,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k LONG, cust LONG, prio STRING"),
        Seq(GreaterThanOrEqual("k", 1000L), LessThan("k", 3000L)))
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", "k LONG, cust LONG, prio STRING")
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      readAsOf(None).withColumn("snap", lit(2L))
        .unionAll(readAsOf(Some(1)).withColumn("snap", lit(1L)))
        .groupBy(col("snap"), col("prio"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("cust")).as("cust_sum"))
        .orderBy("snap", "prio")
    },
    Some("""WITH snaps AS (
              SELECT 1 AS snap, o_orderkey, o_custkey, o_orderpriority
              FROM orders
              UNION ALL
              SELECT 2, o_orderkey, o_custkey, o_orderpriority FROM orders
              WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 3000))
            SELECT CAST(snap AS BIGINT) AS snap, o_orderpriority AS prio,
              count(*) AS n, min(o_orderkey) AS k_min,
              max(o_orderkey) AS k_max,
              CAST(sum(o_custkey) AS BIGINT) AS cust_sum
            FROM snaps GROUP BY 1, 2 ORDER BY snap, prio"""))

  /** MERGE INTO the Store (sources/KvStore.merge): one atomic commit
    * applies an upsert batch (replace-the-row CDC semantics, keyed on k)
    * AND a set of row-level deletes — store rows whose key is touched are
    * removed copy-on-write from zone-map-intersecting files only, the
    * change batch lands through the sink's own 2PC write, and the latest
    * view is the merged state while `asOfCommit=1` still reads the
    * pre-merge snapshot. Oracle recomputes the post-state from the source
    * table (evens < 20 upserted ×10, odds < 20 untouched, ≥ 20 deleted),
    * so a missed upsert, a resurrected delete, or a lost bystander all
    * hash-mismatch. */
  private val qStoreMerge = Q(
    "q_store_merge",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_store_merge")
      val counts = table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("v"))
        .select(col("c_nationkey").as("k"), col("v"))
      counts.repartitionByRange(4, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      val upserts = counts.filter(col("k") % 2 === 0 && col("k") < 20)
        .select(col("k"), (col("v") * 10).as("v"))
      graft.sources.KvStore.merge(s, out,
        org.apache.spark.sql.types.StructType.fromDDL("k LONG, v LONG"),
        "k", upserts, deleteKeys = (20L to 24L))
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", "k LONG, v LONG")
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      readAsOf(Some(1)).withColumn("snap", lit(1L))
        .unionAll(readAsOf(None).withColumn("snap", lit(2L)))
        .select("snap", "k", "v")
        .orderBy("snap", "k")
    },
    Some("""WITH c AS (
              SELECT c_nationkey AS k, count(*) AS v FROM customer GROUP BY 1)
            SELECT CAST(1 AS BIGINT) AS snap, k, v FROM c
            UNION ALL
            SELECT 2, k, CASE WHEN k % 2 = 0 THEN v * 10 ELSE v END
            FROM c WHERE k < 20
            ORDER BY snap, k"""))

  /** BUCKETED AGGREGATION — bucketing's second dividend after
    * shuffle-free joins: a GROUP BY on the bucket key aggregates with NO
    * exchange at all, because the bucketed scan's hash partitioning
    * already satisfies the aggregation's distribution requirement. On a
    * 100 TB fact table that difference — aggregate in place vs re-hash
    * the whole table — IS the layout's payoff, so the gate runs the
    * aggregation over a bucketed copy and `BucketedJoinSpec`-style plan
    * pinning lives in the exchange-count assertion of
    * `BucketedAggSpec`. Results are exact money sums; oracle aggregates
    * the plain table. */
  private val qSourceBucketedAgg = Q(
    "q_source_bucketed_agg",
    (s, dir) => {
      resetTable(s, "orders_bkt_agg")
      table(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_bkt_agg")
      s.table("orders_bkt_agg")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("o_custkey"))
        .limit(100)
    },
    Some(s"""SELECT o_custkey, count(*) AS n_orders,
               ${moneySumSql("o_totalprice")} AS total
             FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100"""))

  /** NULL-SAFE equality join (the `<=>` semantics corner): ordinary `=`
    * drops null-keyed rows from BOTH sides silently — the classic
    * quiet-data-loss bug when a join key is optional. This gate makes
    * the corner observable: a derived nullable key (customers outside a
    * balance band get NULL) joined BOTH ways, counting matches. The
    * null-safe join matches null-to-null (one hash bucket for NULL —
    * still an equi-join, still shuffle-partitionable, Spark plans
    * SortMergeJoin on `<=>`); the plain join's match count excludes
    * every null pair, and the gate carries both counts so either
    * semantics drifting breaks it. */
  private val qJoinNullsafe = Q(
    "q_join_nullsafe",
    (s, dir) => {
      val c = table(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_acctbal") >= -900 && col("c_acctbal") <= 9900,
            col("c_nationkey")).as("k"))
      val a = c.select(col("c_custkey").as("ck_a"), col("k").as("ka"))
      val b = c.select(col("c_custkey").as("ck_b"), col("k").as("kb"))
      val nullsafe = a.join(b, col("ka") <=> col("kb"))
        .agg(count(lit(1)).as("n")).select(col("n").as("n_nullsafe"))
      val plain = a.join(b, col("ka") === col("kb"))
        .agg(count(lit(1)).as("n")).select(col("n").as("n_plain"))
      nullsafe.crossJoin(plain)
        .withColumn("null_pairs", col("n_nullsafe") - col("n_plain"))
    },
    Some("""WITH c AS (
              SELECT c_custkey,
                CASE WHEN c_acctbal BETWEEN -900 AND 9900
                  THEN c_nationkey END AS k
              FROM customer)
            SELECT
              (SELECT count(*) FROM c a JOIN c b
                ON a.k IS NOT DISTINCT FROM b.k) AS n_nullsafe,
              (SELECT count(*) FROM c a JOIN c b ON a.k = b.k) AS n_plain,
              (SELECT count(*) FROM c a JOIN c b
                ON a.k IS NOT DISTINCT FROM b.k)
              - (SELECT count(*) FROM c a JOIN c b ON a.k = b.k)
                AS null_pairs"""))

  /** MALFORMED-RECORD ingest (PERMISSIVE + corrupt-record column) — real
    * corpora arrive dirty, and silently dropping bad rows is the
    * ingest bug this guards: a CSV staged with a deterministic fault
    * pattern (every doc_id ≡ 2 mod 5 gets a non-numeric n_chars) is
    * read back with an explicit schema and
    * columnNameOfCorruptRecord, so parse failures become ROWS (raw
    * line preserved) instead of silent nulls or a job abort. The gate
    * accounts for every input row: good/corrupt counts plus an exact
    * id-sum per class — a row lost, misclassified, or double-counted
    * moves it. The oracle recomputes both classes from the fault rule
    * on the source table.
    *
    * Scale shape: the corrupt-record path is a per-row parse decision
    * inside the scan — no extra pass, no shuffle; the accounting is
    * one hash aggregation. */
  private val qSourceCorrupt = Q(
    "q_source_corrupt",
    (s, dir) => {
      val stage = artifactDir(s, "stages", "corrupt_csv")
      val docs = table(s, dir, "documents").select("doc_id", "n_chars")
      docs.select(concat_ws(",", col("doc_id"),
          when(col("doc_id") % 5 === 2, lit("notanumber"))
            .otherwise(col("n_chars").cast("string"))).as("value"))
        .write.mode("overwrite").text(stage)
      val schema = "doc_id BIGINT, n_chars BIGINT, _corrupt_record STRING"
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(stage)
        .select(when(col("_corrupt_record").isNull, "good")
          .otherwise("corrupt").as("cls"),
          // corrupt rows keep doc_id NULL in the parsed columns; recover
          // the id from the preserved raw line so BOTH classes id-sum
          coalesce(col("doc_id"),
            split(col("_corrupt_record"), ",").getItem(0).cast("long"))
            .as("id"),
          // n_chars MUST be referenced: CSV column pruning otherwise
          // skips parsing the faulted field entirely and no row is ever
          // marked corrupt (verified — pruned plan returned 0 corrupt)
          col("n_chars"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .orderBy("cls")
    },
    Some("""SELECT CASE WHEN doc_id % 5 = 2 THEN 'corrupt' ELSE 'good' END
              AS cls,
              count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
              CAST(sum(CASE WHEN doc_id % 5 = 2 THEN NULL ELSE n_chars END)
                AS BIGINT) AS chars_sum
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** DYNAMIC PARTITION OVERWRITE — the partition-level upsert every
    * partitioned lakehouse table needs: rewriting one partition's
    * content must leave every other partition byte-untouched, WITHOUT
    * naming the partition in the write (dynamic mode derives the
    * replaced set from the data). The corpus is laid out partitioned by
    * lang; the 'en' partition is then overwritten with a filtered +
    * transformed replacement batch under
    * partitionOverwriteMode=dynamic (saved/restored around the write —
    * static mode would wipe ALL partitions, exactly the failure this
    * guards). The gate reads the layout back and checks per-lang counts
    * AND a commutative content-hash sum — a wiped bystander partition,
    * a surviving pre-overwrite 'en' row, or a missed transform all move
    * it. Oracle recomputes the expected post-state from the source
    * table. */
  private val qStoreDpo = Q(
    "q_store_dpo",
    (s, dir) => {
      import graft.functions.GraftFunctions.charHashNative
      val stage = artifactDir(s, "stages", "dpo")
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
      docs.write.partitionBy("lang").mode("overwrite").parquet(stage)
      val delta = docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
        .withColumn("text", upper(col("text")))
      withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        delta.write.partitionBy("lang").mode("overwrite").parquet(stage)
      }
      graft.core.Graft.cachedSchemaParquet(s, stage)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(charHashNative(col("text"))).as("content_sum"))
        .orderBy("lang")
    },
    Some(s"""WITH post AS (
              SELECT doc_id, lang, text FROM documents WHERE lang <> 'en'
              UNION ALL
              SELECT doc_id, lang, upper(text) AS text FROM documents
              WHERE lang = 'en' AND doc_id % 2 = 0)
            SELECT lang, count(*) AS n_docs,
              CAST(sum(${graft.operators.PortableHash.charHashSql("text")})
                AS BIGINT) AS content_sum
            FROM post GROUP BY 1 ORDER BY 1"""))

  /** Raw-binary file source (spark.read.format("binaryFile")): per-doc
    * payloads written as individual .bin files from the EXECUTORS (the
    * multimodal-corpus ingestion shape — image/audio data arrives as an
    * object store full of opaque files), read back through the
    * binaryFile source with doc identity recovered from the path.
    * Gated on exact byte length + md5 parity against the documents
    * table — a truncated write, a charset mangle, or a path-mapping bug
    * hash-mismatches. Bounded to 300 files at any sf; at corpus scale
    * the same plan lists an object-store prefix in parallel and the
    * payload column feeds the operators/Multimodal decoders. */
  private val qSourceBinaryFile = Q(
    "q_source_binaryfile",
    (s, dir) => {
      val out = tmpDir("binsrc")
      table(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%06d.bin"),
              r.getAs[Array[Byte]](1)): Unit
          }
        }
      s.read.format("binaryFile").load(out)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS payload_md5
            FROM documents WHERE doc_id < 300 ORDER BY doc_id"""))

  /** ROW-LEVEL DELETE via DELETION VECTORS (sources/KvDv + the `#dv`
    * commit-log line) — the merge-on-read twin of `q_store_delete`: the
    * same range predicate deletes the same rows, but NO data file is
    * rewritten — each zone-map-intersecting file gets a tiny immutable
    * ordinal sidecar (write ∝ rows deleted, not bytes touched: the
    * 100 TB GDPR-delete shape), committed as ONE CAS-published `#dv`
    * version. The gate reads THREE views: the pre-delete snapshot
    * (`asOfCommit=1`), the merge-on-read latest (vectors subtracted at
    * read), and the post-compaction view (vectors materialized away) —
    * all three must agree with the oracle, so a leaked row, a lost
    * bystander, destroyed history, OR a materialization drift breaks the
    * hash. KvDvSpec pins the physical claims (files byte-identical,
    * ≥10× write-amplification win, vector disjointness). */
  private val qStoreDeleteDv = Q(
    "q_store_delete_dv",
    (s, dir) => {
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val out = artifactDir(s, "kvsink", "q_store_delete_dv")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k LONG, cust LONG, prio STRING")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
          col("o_orderpriority").as("prio"))
        .repartitionByRange(8, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      graft.sources.KvStore.deleteWhereDV(s, out, schema,
        Seq(GreaterThanOrEqual("k", 1000L), LessThan("k", 3000L)))
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", schema.toDDL)
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      // PINNED at the delete commit (version 2): a DSv2 scan resolves its
      // snapshot at execution — after the compact below — so an unpinned
      // read here would see the post-compaction state and never exercise
      // merge-on-read vector subtraction at all (a vacuously-green gate)
      val merged = readAsOf(Some(2)).withColumn("snap", lit(2L)) // merge-on-read
      val pre = readAsOf(Some(1)).withColumn("snap", lit(1L))
      graft.sources.KvStore.compact(s, out, schema, 2) // materialize
      val compacted = readAsOf(None).withColumn("snap", lit(3L))
      pre.unionAll(merged).unionAll(compacted)
        .groupBy(col("snap"), col("prio"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("cust")).as("cust_sum"))
        .orderBy("snap", "prio")
    },
    Some("""WITH snaps AS (
              SELECT 1 AS snap, o_orderkey, o_custkey, o_orderpriority
              FROM orders
              UNION ALL
              SELECT s.snap, o_orderkey, o_custkey, o_orderpriority
              FROM orders, (VALUES (2), (3)) AS s(snap)
              WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 3000))
            SELECT CAST(snap AS BIGINT) AS snap, o_orderpriority AS prio,
              count(*) AS n, min(o_orderkey) AS k_min,
              max(o_orderkey) AS k_max,
              CAST(sum(o_custkey) AS BIGINT) AS cust_sum
            FROM snaps GROUP BY 1, 2 ORDER BY snap, prio"""))

  /** ROW-PRECISE change feed from a deletion-vector commit: where the
    * CoW grain replays whole rewritten files, a `#dv` commit's change
    * events are EXACTLY the newly-deleted rows — phase 1 reads the
    * per-version feed of the delete commit alone (its events must be
    * precisely the predicate's rows, as deletes), phase 2 reads the
    * from-0 converged snapshot (vectors subtracted at the horizon).
    * Oracle recomputes both phases from the base table. */
  private val qStoreCdfDv = Q(
    "q_store_cdf_dv",
    (s, dir) => {
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val out = artifactDir(s, "kvsink", "q_store_cdf_dv")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k LONG, cust LONG")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
        .repartitionByRange(4, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      graft.sources.KvStore.deleteWhereDV(s, out, schema,
        Seq(GreaterThanOrEqual("k", 500L), LessThan("k", 1500L)))
      def feed(from: Int, to: Int) =
        s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", schema.toDDL)
          .option("readChangeFeed", "true")
          .option("changesFrom", from.toString)
          .option("changesTo", to.toString).load()
      // phase 1: the dv commit's events — row-precise deletes
      val events = feed(1, 2)
        .select(lit(1L).as("phase"), col("k"), col("cust"),
          col("_change_type").as("ct"))
      // phase 2: converged snapshot at the horizon — inserts only
      val snapshot = feed(0, 2)
        .select(lit(2L).as("phase"), col("k"), col("cust"),
          col("_change_type").as("ct"))
      events.unionAll(snapshot)
        .groupBy(col("phase"), col("ct"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("cust")).as("cust_sum"))
        .orderBy("phase", "ct")
    },
    Some("""WITH ev AS (
              SELECT 1 AS phase, 'delete' AS ct, o_orderkey AS k,
                o_custkey AS cust
              FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
              UNION ALL
              SELECT 2, 'insert', o_orderkey, o_custkey
              FROM orders
              WHERE NOT (o_orderkey >= 500 AND o_orderkey < 1500))
            SELECT CAST(phase AS BIGINT) AS phase, ct, count(*) AS n,
              min(k) AS k_min, max(k) AS k_max,
              CAST(sum(cust) AS BIGINT) AS cust_sum
            FROM ev GROUP BY 1, 2 ORDER BY phase, ct"""))

  /** MERGE via DELETION VECTORS (sources/KvStore.mergeDV) — the
    * merge-on-read twin of `q_store_merge`: the SAME upsert batch and
    * delete-key set, but touched store rows are deleted by ordinal
    * VECTOR (no file rewritten) while the upserts land through the
    * sink's 2PC write, both halves in ONE `#dv`+adds manifest CASed at
    * base+1 — write cost ∝ change batch, the continuous-CDC shape at
    * 100 TB. Three agreeing views (pre-merge snapshot, merge-on-read
    * latest, post-purge materialized) against the q_store_merge oracle
    * recomputation prove representation never changes semantics. */
  private val qStoreMergeDv = Q(
    "q_store_merge_dv",
    (s, dir) => {
      val out = artifactDir(s, "kvsink", "q_store_merge_dv")
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k LONG, v LONG")
      val counts = table(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("v"))
        .select(col("c_nationkey").as("k"), col("v"))
      counts.repartitionByRange(4, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
      val upserts = counts.filter(col("k") % 2 === 0 && col("k") < 20)
        .select(col("k"), (col("v") * 10).as("v"))
      graft.sources.KvStore.mergeDV(s, out, schema,
        "k", upserts, deleteKeys = (20L to 24L))
      def readAsOf(asOf: Option[Int]) = {
        val r = s.read.format("graft.sources.KvSourceProvider")
          .option("path", out).option("schema", "k LONG, v LONG")
        asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
      }
      val pre = readAsOf(Some(1)).withColumn("snap", lit(1L))
      val merged = readAsOf(Some(2)).withColumn("snap", lit(2L))
      graft.sources.KvStore.purgeDvs(s, out, schema) // materialize
      val purged = readAsOf(None).withColumn("snap", lit(3L))
      pre.unionAll(merged).unionAll(purged)
        .select("snap", "k", "v")
        .orderBy("snap", "k")
    },
    Some("""WITH c AS (
              SELECT c_nationkey AS k, count(*) AS v FROM customer GROUP BY 1)
            SELECT CAST(1 AS BIGINT) AS snap, k, v FROM c
            UNION ALL
            SELECT s.snap, k, CASE WHEN k % 2 = 0 THEN v * 10 ELSE v END
            FROM c, (VALUES (2), (3)) AS s(snap) WHERE k < 20
            ORDER BY snap, k"""))

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the change feed —
    * the composition the CDF exists for: an aggregate table maintained
    * by folding ONLY the change events of new commits, never re-scanning
    * the base store. The gate (1) builds the MV from the version-1
    * snapshot feed and MATERIALIZES it into its own store table, (2)
    * mutates the base twice — a deletion-vector delete (row-precise
    * delete events, sources/KvDv) and a CoW delete (whole-file
    * remove/re-add events) — then (3) refreshes by combining the STORED
    * MV with the signed delta feed `(1, head]` alone: +row for inserts,
    * −row for deletes. The refreshed MV must equal a full recompute
    * (the oracle), proving insert−delete folding is exact across BOTH
    * mutation representations. 100 TB shape: refresh cost ∝ change
    * volume (here: two deleted ranges), not base-table size — the
    * difference between a streaming-sized nightly refresh and re-reading
    * a petabyte. */
  private val qStoreMvIncremental = Q(
    "q_store_mv_incremental",
    (s, dir) => {
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
      val base = artifactDir(s, "kvsink", "q_store_mv_base")
      val mv = artifactDir(s, "kvsink", "q_store_mv_view")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k LONG, cust LONG")
      table(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
        .repartitionByRange(4, col("k"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", base).mode("append").save()
      def feed(from: Int, to: Int) =
        s.read.format("graft.sources.KvSourceProvider")
          .option("path", base).option("schema", schema.toDDL)
          .option("readChangeFeed", "true")
          .option("changesFrom", from.toString)
          .option("changesTo", to.toString).load()
      // build + MATERIALIZE the view from the v1 snapshot feed
      feed(0, 1)
        .groupBy(col("cust"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
        .write.format("graft.sources.KvSinkProvider")
        .option("path", mv).mode("append").save()
      // two base mutations in two representations
      graft.sources.KvStore.deleteWhereDV(s, base, schema,
        Seq(GreaterThanOrEqual("k", 500L), LessThan("k", 700L)))
      graft.sources.KvStore.deleteWhere(s, base, schema,
        Seq(GreaterThanOrEqual("k", 900L), LessThan("k", 1100L)))
      // refresh = stored MV + signed delta feed, never the base table
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val delta = feed(1, 3)
        .select(col("cust"), sign.as("dn"), (sign * col("k")).as("dk"))
        .groupBy(col("cust"))
        .agg(sum(col("dn")).as("n"), sum(col("dk")).as("k_sum"))
      s.read.format("graft.sources.KvSourceProvider")
        .option("path", mv).option("schema", "cust LONG, n LONG, k_sum LONG")
        .load()
        .unionAll(delta)
        .groupBy(col("cust"))
        .agg(sum(col("n")).as("n"), sum(col("k_sum")).as("k_sum"))
        .filter(col("n") > 0)
        .orderBy("cust")
    },
    Some("""SELECT o_custkey AS cust, count(*) AS n,
              CAST(sum(o_orderkey) AS BIGINT) AS k_sum
            FROM orders
            WHERE NOT (o_orderkey >= 500 AND o_orderkey < 700)
              AND NOT (o_orderkey >= 900 AND o_orderkey < 1100)
            GROUP BY 1 ORDER BY cust"""))

  override val queries: Seq[Q] =
    Seq(qSourceCsv, qSourceJson, qSourceXml, qSourceOrc, qSourceText, qSourcePartitioned,
      qSourceBucketedJoin, qSourceDsv2, qSourceDsv2Agg, qSourceDsv2Topn,
      qSinkDsv2, qSourceKv, qSourceKvNet, qSourceKvZonemap, qSourceKvRuntimePrune,
      qSourceKvAgg, qSourceKvAggGrouped, qSourceKvSpj, qSourceKvSpjBucketed,
      qSourceKvZonemapTyped, qSourceKvBloom,
      qZorderLayout, qZonemapPrune, qStoreTimetravel, qStoreTimediff,
      qStoreDelete, qStoreMerge, qStoreDeleteDv, qStoreCdfDv,
      qStoreMergeDv, qStoreMvIncremental,
      qSourceSchemaEvolution,
      qStoreDpo, qSourceCorrupt, qSourceBucketedAgg, qJoinNullsafe,
      qSourceBinaryFile)
}
