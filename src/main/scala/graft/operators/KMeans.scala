package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd k-means over embedding columns — the clustering
  * primitive behind semantic dedup (SemDeDup-style: cluster the corpus,
  * then prune near-duplicates only WITHIN clusters) and IVF-index
  * construction for training-data curation.
  *
  * Capability mapped from the reference's iterated map/reduce round
  * structure (`/root/reference/src/Impl.hs:79-104` runs stage-barrier
  * rounds over partitioned state); Lloyd's algorithm is exactly that
  * shape: an assignment map stage and a centroid-update reduce stage per
  * round, with only K·dim longs of cross-round state.
  *
  * Determinism discipline (the repo-wide portable-hash contract): every
  * quantity the driver's DuckDB hash-gate sees is integer-derived —
  *   - coordinates quantize once to 1e-6 longs (DuckDB-round semantics,
  *     half away from zero — [[graft.functions.VecOps.qround]]);
  *   - distances are exact integer squared-L2 over those longs, so the
  *     argmin and its tie-break (lowest centroid id) cannot float-flip
  *     under any partitioning or aggregation order;
  *   - updated centroids are the quantized mean qround(Σq/n): the sum is
  *     an exact long (|q| ≤ ~2·10⁶ · n ≤ 2⁵³ at any realistic corpus),
  *     the division is one correctly-rounded IEEE op — bit-identical in
  *     both engines.
  *
  * Scale shape (100 TB): assignment is a codegen'd projection against K
  * broadcast-literal centroids (no join, no shuffle); the update is a
  * mergeable typed Aggregator carrying dim longs + a count per
  * (cluster, partition) — partial aggregation runs map-side, the shuffle
  * moves K·dim longs per partition, and the driver holds only the K×dim
  * centroid table per round (the same metadata-sized driver state as
  * Spark MLlib's KMeans). Rounds are full passes over the data — T scans
  * for T rounds, nothing quadratic anywhere.
  */
object KMeansQuant {

  /** Coordinate quantization scale: 1e-6 units. */
  val Scale: Double = 1e6

  /** array<float> → array<long>: qround(x·1e6) per element, via the
    * codegen'd graft_quantvec kernel (VecOps.qround is DuckDB-round —
    * half away from zero on the binary value; `Graft.session` installs
    * the kernel). */
  def quantize(v: Column): Column =
    graft.functions.GraftFunctions.quantVecNative(v, Scale)

  def quantizeSql(v: String, dim: Int): String =
    s"""list_transform(generate_series(1, $dim),
       |  i -> CAST(round(CAST($v[i] AS DOUBLE) * 1000000.0) AS BIGINT))""".stripMargin

  /** [[quantizeSql]] over the `dim`-wide subvector starting after
    * `offset` elements — the per-subspace slice a product quantizer
    * trains on. */
  def quantizeSliceSql(v: String, offset: Int, dim: Int): String =
    s"""list_transform(generate_series(1, $dim),
       |  i -> CAST(round(CAST($v[i + $offset] AS DOUBLE) * 1000000.0) AS BIGINT))""".stripMargin

  /** Normalized quantization — the SPHERICAL variant for cosine-metric
    * uses (IVF coarse quantizers): on unit vectors, L2 ordering is
    * cosine ordering (‖a−b‖² = 2−2·cosθ), so an L2-trained quantizer
    * aligns with cosine retrieval. The norm is the ordered-fold dot
    * (≡ DuckDB list_reduce), the division one IEEE op, then the same
    * qround — bit-identical across engines. One codegen'd kernel call
    * (graft_quantvecnorm) computing the norm ONCE per row: the previous
    * composed form (transform over a sqrt(aggregate(zip_with)) norm)
    * re-ran the interpreted dot fold for every ELEMENT — O(dim²)
    * interpreted evals per row, ~2 s per assignment pass at sf0.1 and
    * the floor under every ANN gate (VectorQuantizeSpec pins kernel ≡
    * composed form). */
  def quantizeNormalized(v: Column): Column =
    graft.functions.GraftFunctions.quantVecNormNative(v, Scale)

  def quantizeNormalizedSql(v: String, dim: Int): String =
    s"""list_transform(generate_series(1, $dim),
       |  i -> CAST(round(CAST($v[i] AS DOUBLE) /
       |    sqrt(${graft.operators.PortableHash.dotSql(v, v, dim)})
       |    * 1000000.0) AS BIGINT))""".stripMargin

  def l2qSql(a: String, b: String, dim: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, $dim),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)""".stripMargin

  /** Distance-to-each-centroid array for one row; centroids enter the
    * plan as literals (the broadcast-small side — K·dim longs), each
    * distance one codegen'd graft_l2q call — no interpreted
    * higher-order-function lambdas in the assignment hot path. */
  def distArray(qv: Column, centroids: Seq[Seq[Long]]): Column =
    array(centroids.map(c =>
      graft.functions.GraftFunctions.l2qNative(qv, typedlit(c))): _*)

  /** Argmin cluster id: array_position finds the FIRST minimum, so equal
    * integer distances break to the lowest cid — the identical rule the
    * oracle's ORDER BY (dist, cid) applies. */
  def withAssignment(df: DataFrame, qvCol: String,
      centroids: Seq[Seq[Long]]): DataFrame = {
    val dists = distArray(col(qvCol), centroids)
    df.withColumn("__dists", dists)
      .withColumn("distq", array_min(col("__dists")))
      .withColumn("cluster", array_position(col("__dists"), col("distq")) - 1L)
      .drop("__dists")
  }

  /** `rounds` assignment passes with a quantized-mean update between
    * consecutive passes (so `fit(_, _, 1)` is pure seed assignment).
    * Returns the final assignment frame (input columns + cluster/distq)
    * and the centroids that produced it. Empty clusters keep their prior
    * centroid. The update rounds run on the [[Fixpoint]] driver under
    * `policy`; the per-round state is the K×dim centroid table, held on
    * the driver (so [[Fixpoint.Local]] spends no job on it) or committed
    * through the store under [[Fixpoint.Durable]] — durability cannot
    * change a single assignment. */
  def fit(spark: SparkSession, data: DataFrame, qvCol: String,
      init: Seq[Seq[Long]], rounds: Int, dim: Int,
      policy: Fixpoint.Policy = Fixpoint.Local): (DataFrame, Seq[Seq[Long]]) = {
    val (cents, _) = lloyd(spark, data, qvCol, init, rounds, dim, policy)
    (withAssignment(data, qvCol, cents), cents)
  }

  /** [[fit]] with the run's round figures: (assignment frame, update
    * rounds run by this call, committed round it resumed from). */
  def fitRun(spark: SparkSession, data: DataFrame, qvCol: String,
      init: Seq[Seq[Long]], rounds: Int, dim: Int,
      policy: Fixpoint.Policy): (DataFrame, Int, Int) = {
    val (cents, r) = lloyd(spark, data, qvCol, init, rounds, dim, policy)
    (withAssignment(data, qvCol, cents), r.rounds, r.resumedFrom)
  }

  private def lloyd(spark: SparkSession, data: DataFrame, qvCol: String,
      init: Seq[Seq[Long]], rounds: Int, dim: Int,
      policy: Fixpoint.Policy): (Seq[Seq[Long]], Fixpoint.Result) = {
    import spark.implicits._
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // the last table built here and its rows: the driver-side state is
    // read back without a query; a resumed durable round is collected
    var built: (DataFrame, Seq[Seq[Long]]) = (null, Nil)
    def table(cents: Seq[Seq[Long]]): DataFrame = {
      val df = cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
        .toDF("cid", "cv")
      built = (df, cents)
      df
    }
    def centroids(state: DataFrame): Seq[Seq[Long]] =
      if (state eq built._1) built._2
      else state.select("cid", "cv").as[(Long, Seq[Long])]
        .collect().sortBy(_._1).map(_._2).toSeq
    // the last assignment pass has no update: rounds-1 fixed update rounds
    val r = Fixpoint.run(spark, policy, rounds - 1) { _ =>
      Fixpoint.Rounds(table(init), state => {
        val cents = centroids(state)
        val sums = withAssignment(data, qvCol, cents)
          .select(col("cluster"), col(qvCol))
          .as[(Long, Seq[Long])]
          .groupByKey(_._1).mapValues(_._2)
          .agg(TypedAggregates.LongVectorSum(dim).toColumn)
          .collect()
        val updated = sums.map { case (cid, (s, n)) =>
          cid -> s.map(x => graft.functions.VecOps.qround(x.toDouble / n)).toSeq
        }.toMap
        table(cents.indices.map(c => updated.getOrElse(c.toLong, cents(c))))
      })
    }
    (centroids(r.state), r)
  }

  /** Fit the `m` per-subspace PQ codebooks CONCURRENTLY: the Lloyd
    * chains are fully independent (disjoint coordinate slices, same
    * seed rows), so their blocking driver jobs are submitted from
    * separate threads and share the cluster instead of queueing — wall
    * time ≈ one fit instead of m (the jobs-per-fit fixed cost dominates
    * at gate scale; at corpus scale the scans overlap). Results are
    * assembled in subspace order — bit-identical to the sequential
    * loop. `base` must carry `vec_id` and the full-width quantized
    * vector in `vecCol`; seeds are the rows named by `seedIds`
    * (ascending id = codeword id, the repo convention). */
  def fitSubspaces(spark: SparkSession, base: DataFrame, vecCol: String,
      seedIds: Seq[Long], rounds: Int, m: Int,
      subDim: Int): Seq[Seq[Seq[Long]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // Bounded pool, not ExecutionContext.global: each future drives a
    // whole Lloyd chain of blocking Spark jobs, and the global pool's
    // blocking-manager would spawn compensation threads for every
    // Await inside Spark — under memory pressure that thread storm is
    // an OOM vector. 4 concurrent chains already hide the per-job
    // fixed cost; the subspace jobs share the same executor slots
    // either way. A finite Await bound (20 min per subspace chain)
    // turns a wedged chain into a diagnosable TimeoutException instead
    // of a silent hang.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(math.max(m, 1), 4),
      (r: Runnable) => {
        val t = new Thread(r, "graft-pq-fit"); t.setDaemon(true); t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (0 until m).map { mm =>
        Future {
          val sub = base.withColumn("qvm",
            slice(col(vecCol), mm * subDim + 1, subDim))
          val seeds = sub.filter(col("vec_id").isin(seedIds: _*))
            .orderBy("vec_id").select("qvm")
            .collect().map(_.getSeq[Long](0).toSeq).toSeq
          fit(spark, sub, "qvm", seeds, rounds, subDim)._2
        }
      }
      futs.map(Await.result(_, 20.minutes))
    } finally pool.shutdown()
  }

  /** DuckDB CTE fragment: one assignment pass `out` from centroid table
    * `prev` over quantized corpus `eq(vec_id, qv)` (name overridable for
    * parallel per-subspace chains). */
  def assignCteSql(prev: String, out: String, dim: Int,
      eq: String = "eq"): String =
    s"""$out AS (
       |  SELECT vec_id, qv, cid, d AS distq FROM (
       |    SELECT vec_id, qv, cid, d,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
       |    FROM (SELECT e.vec_id, e.qv, c.cid, ${l2qSql("e.qv", "c.cv", dim)} AS d
       |          FROM $eq e CROSS JOIN $prev c) t0) t1
       |  WHERE rk = 1)""".stripMargin

  /** DuckDB CTE fragment: centroid update `out` from assignment
    * `assigned`, falling back to `prev` for empty clusters. */
  def updateCteSql(assigned: String, prev: String, out: String, dim: Int): String =
    s"""${out}_s AS (
       |  SELECT a.cid, g.i,
       |    CAST(round(CAST(sum(a.qv[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
       |  FROM $assigned a CROSS JOIN generate_series(1, $dim) g(i)
       |  GROUP BY a.cid, g.i),
       |$out AS (
       |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN
       |    (SELECT cid, list(m ORDER BY i) AS cv FROM ${out}_s GROUP BY cid) n
       |    ON n.cid = p.cid)""".stripMargin

  /** Full oracle CTE chain for `rounds` passes: `eq`, `c0`, a1..aN with
    * updates between. Seeds are the quantized vectors of
    * `[seedLo, seedHi]`, cid = vec_id − seedLo. The caller SELECTs from
    * `a$rounds`. With `prefix` every CTE name is prefixed (parallel
    * per-subspace chains); with `offset` the fit trains on the
    * `dim`-wide subvector starting after `offset` elements — together
    * they are the PRODUCT-quantizer training chain. */
  def oracleCtesSql(seedLo: Long, seedHi: Long, rounds: Int, dim: Int,
      normalized: Boolean = false, prefix: String = "",
      offset: Int = 0): String = {
    require(!(normalized && offset != 0),
      "normalized slicing is not defined (norm is whole-vector)")
    val qvSql =
      if (normalized) quantizeNormalizedSql("embedding", dim)
      else if (offset == 0) quantizeSql("embedding", dim)
      else quantizeSliceSql("embedding", offset, dim)
    val head = Seq(
      s"${prefix}eq AS (SELECT vec_id, $qvSql AS qv FROM embeddings)",
      s"""${prefix}c0 AS (SELECT CAST(vec_id - $seedLo AS BIGINT) AS cid, qv AS cv
         |       FROM ${prefix}eq
         |       WHERE vec_id BETWEEN $seedLo AND $seedHi)""".stripMargin)
    (head ++ chainBodySql(prefix, rounds, dim)).mkString(",\n")
  }

  private def chainBodySql(prefix: String, rounds: Int, dim: Int): Seq[String] =
    (1 to rounds).flatMap { r =>
      val assign = assignCteSql(s"${prefix}c${r - 1}", s"${prefix}a$r", dim,
        eq = s"${prefix}eq")
      if (r < rounds)
        Seq(assign,
          updateCteSql(s"${prefix}a$r", s"${prefix}c${r - 1}", s"${prefix}c$r", dim))
      else Seq(assign)
    }

  /** [[oracleCtesSql]] over an ALREADY-QUANTIZED integer vector table
    * `src(vec_id, vcol)` instead of raw `embeddings` — the training
    * chain for residual product quantizers, where the fit input is the
    * coarse residual (qv − assigned centroid), itself a prior CTE. The
    * `dim`-wide slice after `offset` selects the subspace. */
  def oracleCtesFromIntSql(src: String, vcol: String, seedLo: Long,
      seedHi: Long, rounds: Int, dim: Int, prefix: String = "",
      offset: Int = 0): String = {
    val head = Seq(
      s"""${prefix}eq AS (SELECT vec_id, list_transform(generate_series(1, $dim),
         |  i -> $vcol[i + $offset]) AS qv FROM $src)""".stripMargin,
      s"""${prefix}c0 AS (SELECT CAST(vec_id - $seedLo AS BIGINT) AS cid, qv AS cv
         |       FROM ${prefix}eq
         |       WHERE vec_id BETWEEN $seedLo AND $seedHi)""".stripMargin)
    (head ++ chainBodySql(prefix, rounds, dim)).mkString(",\n")
  }
}
