package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + catalog helpers for the graft engine.
  *
  * [[Graft.session]] is the engine's only session factory: every main,
  * the test fixture and the benchmark build their session through it,
  * so they all run under the same settings and the same extensions.
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     dynamic join-strategy switch are the first line of defense at scale.
  *   - shuffle.partitions is the caller's core count (the mains pass
  *     SPARK_GRAFT_CPUS); on a real cluster AQE's coalescing makes the
  *     initial number mostly a cap.
  *   - The generated-class cache is sized for the whole query registry.
  *   - [[graft.functions.GraftExtensions]] is installed once, at session
  *     build: native functions, table functions, the AsOf strategy and
  *     rules, and the Nativize rules are present from the first query.
  *   - All reads go through `table()` so the scan always carries the
  *     parquet schema and Catalyst can push filters/prune columns.
  */
object Graft {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The settings every graft session carries, in build order. */
  def settings(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Static conf, default 100: the generated-class cache. At hundreds of
    // registry queries x several codegen stages each, 100 entries evict
    // constantly, so every later pass re-generates and re-JITs classes
    // that the previous pass already compiled — code-cache churn that
    // made two late-running queries publish ~3x their isolated times.
    // Size it to hold the whole registry's generated classes.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    // Constraint propagation re-canonicalizes every referenced column
    // expression per inferred predicate — with expression-heavy lambda
    // columns (minhash/ngram pipelines) the OPTIMIZER itself becomes
    // O(30 s) per query. Our plans carry their filters explicitly.
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> (sys.props("java.io.tmpdir") + "/graft-warehouse"),
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** The session factory. `extra` settings are applied after (and so
    * override) [[settings]] — for contexts that need a special master or
    * context-level knobs. When `getOrCreate` would return an existing
    * session built without [[graft.functions.GraftExtensions]], a new
    * session with the extensions is created on the running context;
    * if the extensions are still missing, this fails loudly. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
    (settings(shufflePartitions) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val existing = builder.getOrCreate()
    val spark = if (hasExtensions(existing)) existing else builder.create()
    if (!hasExtensions(spark))
      throw new IllegalStateException(
        "graft session is missing GraftExtensions (graft functions or AsOf strategy)")
    spark.sparkContext.setLogLevel("WARN")
    silenceKnownBenignWarnings()
    spark
  }

  /** True iff `spark` was built with [[graft.functions.GraftExtensions]]:
    * its native functions and its planner strategy are present. */
  def hasExtensions(spark: SparkSession): Boolean = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    state.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_charhash")) &&
      state.planner.strategies.exists(_.isInstanceOf[graft.plans.AsOfJoinStrategy])
  }

  /** Silence the handful of per-query Spark warnings that are DOCUMENTED-
    * INTENTIONAL in this codebase, so a captured log tail carries
    * progress instead of repetition (the r14 rc=124 postmortem: the
    * driver's 2 KB stdout/stderr tail was 100+ copies of the WindowExec
    * warning and zero progress lines):
    *   - WindowExec "No Partition Defined" — every bare `Window.orderBy`
    *     here runs on bounded inputs (top-k'd `.limit(20)` results, small
    *     domain aggregates; audited in the r14 verdict);
    *   - ResolveWriteToStream checkpoint-deletion notice — Verify/Bench
    *     stream gates use throwaway checkpoints by design.
    * Uses the log4j2 Configurator (Spark 4's logging backend) and is
    * deliberately narrow: everything else stays at WARN. */
  def silenceKnownBenignWarnings(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      Level.ERROR)
  }

  /** Scan one TESTDATA table. Column pruning + predicate pushdown reach the
    * parquet reader because this is a plain DataSource v2 relation.
    *
    * events.ts encoding has varied across testdata generations: older data
    * is parquet TIMESTAMP(NANOS) (arriving as epoch-nanos LongType under
    * spark.sql.legacy.parquet.nanosAsLong), newer data is timestamp[us]
    * (arriving as a timestamp directly). The conditional below normalizes
    * the legacy long encoding to a µs timestamp — matching DuckDB's own
    * ns→µs truncation — and passes native timestamps through unchanged. */
  /** Parquet schema per corpus table path, inferred ONCE per JVM (r17):
    * `spark.read.parquet` with no schema runs a footer-reading Spark job
    * on EVERY call — one fixed-cost job per `table()` call per query
    * execution, times 302 registry queries. The corpus tables are
    * immutable inputs, so the inferred schema is cached (the KvMetaCache
    * discipline: metadata of immutable files, never data) and every
    * later scan passes it explicitly. A production engine gets the same
    * effect from its catalog; a path-read engine must cache. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Parquet read with the path's schema inferred once per JVM — for
    * paths whose SCHEMA is stable for the life of the process (immutable
    * corpus tables, committed operator members, per-run staged
    * artifacts rewritten with the same shape). The inferred schema —
    * including discovered partition columns and their inferred types —
    * is exactly what a fresh inference would return, so plans and
    * results are byte-identical; only the per-call footer-inference job
    * is gone. */
  def cachedSchemaParquet(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = cachedSchemaParquet(spark, s"$dir/$name.parquet")
    df.schema.fields.find(f =>
        f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case None => df
    }
  }

  /** Spread an unsplittable-small scan across the cluster before a heavy
    * per-row kernel (guide §2.5: "input skew — one huge unsplittable
    * file … repartition immediately after the read"). Parquet can only
    * parallelize at row-group granularity, so a single-row-group input
    * scans as ONE task and a compute-bound projection over it (BPE
    * encode ~4 ms/row, n-gram hashing) runs single-core while the rest
    * of the cluster idles. When the PLANNED scan parallelism is below
    * half the core count, hash-repartition on `key` to
    * defaultParallelism (explicit numPartitions, so AQE does not
    * coalesce the tiny exchange back to one task); when the scan already
    * yields core-count splits — any production-sized input — this is
    * the identity and NO extra exchange is paid at scale. `df` must be a
    * scan-stage frame (no exchanges below), so `.rdd.getNumPartitions`
    * reads the planned split count without running a job. */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= sc.defaultParallelism)
      df.repartition(sc.defaultParallelism, key)
    else df
  }

  /** Run `body` with the session's shuffle-partition count scoped to a
    * workload whose per-round cardinality the CALLER knows (fixpoint
    * loops over bounded graphs, stateful streams keyed by a few thousand
    * windows). Each shuffle partition pays fixed per-task cost every
    * round, so a small-keyspace iterative body should run with
    * partitions ~ keys/target, not the session default sized for the
    * big relational shuffles — measured 1.4× on the sf0.1 pagerank round
    * shape (AQE coalescing recovers some, not all, of the gap). The
    * same rule holds at 100 TB with larger numbers; this is the knob an
    * operator would raise. Restores the previous value afterwards. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  // ---------------------------------------------------------------------
  // Deterministic-arithmetic helpers.
  //
  // Doubles summed in different orders (Spark partial aggregation vs the
  // DuckDB oracle) differ in the low bits. IEEE *per-row* arithmetic,
  // however, is bit-identical across engines for the same expression tree.
  // So: quantize per row to an integer number of 1e-4 units (exact in both
  // engines), sum the longs (exact, associative), and rescale at the end.
  // ---------------------------------------------------------------------

  /** Per-row quantization of a money-like double to integer 1e-4 units. */
  def fixed4(c: Column): Column = round(c * lit(10000L), 0).cast("long")

  /** Exact sum of a money expression, returned as a double (n/1e4 is a
    * single deterministic IEEE division).
    *
    * Overflow-safe at speed: a single long sum of 1e-4 units (~1e9/row for
    * TPC-H prices) would wrap silently past ~9.2e18 ≈ 9e9 rows per group —
    * too tight for the 100 TB design point — while summing as
    * DECIMAL(38,0) is exact but forfeits the primitive-long hash-agg fast
    * path (measured ~1.8× on the Q1 shape). So the units are split
    * per-row into hi = units >> 20 and lo = units & 0xFFFFF (exact for
    * negatives too: arithmetic shift is floor division, so
    * units = (hi << 20) + lo with lo ∈ [0, 2^20)), summed as two
    * codegen'd long sums, and recombined as 2^20·Σhi + Σlo in decimal
    * only at the final (per-group) step. Σlo ≤ n·(2^20-1) wraps only past
    * n ≈ 8.8e12 rows per group, ~12× above a full 100 TB lineitem;
    * Σhi (≤ n·954 at max TPC-H price) past ~9.6e15 rows. The final
    * decimal→double conversion is exact whenever the total < 2^53 units —
    * the same bound DuckDB's HUGEINT sum→double conversion has, so the
    * oracle agrees bit-for-bit. */
  private def hiUnits(c: Column): Column = shiftright(fixed4(c), 20)
  private def loUnits(c: Column): Column = fixed4(c).bitwiseAND(lit((1L << 20) - 1))
  private def unitTotal(c: Column): Column =
    sum(hiUnits(c)).cast("decimal(38,0)") * lit(1L << 20) + sum(loUnits(c))

  def moneySum(c: Column): Column =
    (unitTotal(c) / lit(10000.0)).cast("double")

  /** moneySum over a column that is ALREADY integer 1e-4 units (e.g. a
    * per-key partial sum of fixed4 values). Same hi/lo split-sum, same
    * final double — enables two-level aggregation (partial per dense key,
    * final per group) with a bit-identical result. */
  def unitsSum(c: Column): Column =
    ((sum(shiftright(c, 20)).cast("decimal(38,0)") * lit(1L << 20) +
      sum(c.bitwiseAND(lit((1L << 20) - 1)))) / lit(10000.0)).cast("double")

  /** Exact avg: integer sum divided by count — deterministic. */
  def moneyAvg(c: Column): Column =
    (unitTotal(c) / lit(10000.0) / count(lit(1))).cast("double")

  /** Same quantization written in DuckDB SQL, for oracle text. */
  def fixed4Sql(e: String): String = s"CAST(round(($e) * 10000) AS BIGINT)"
  def moneySumSql(e: String): String = s"sum(${fixed4Sql(e)}) / 10000.0"
  def moneyAvgSql(e: String): String = s"sum(${fixed4Sql(e)}) / 10000.0 / count(*)"
}
