package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.KvCommitLog

/** Persistent IVF index — BUILD ONCE, PROBE MANY (the FAISS lifecycle
  * the inline `q_sim_ivf_kmeans` query lacks: there the coarse
  * quantizer re-fits and the inverted lists rebuild inside every
  * execution, which is fine for a gate and wrong for serving — at
  * corpus scale an index is constructed once, committed, and then
  * probed by thousands of independent query batches).
  *
  * On-disk layout under `dir` — versioned GENERATIONS published through
  * the Store's commit log ([[graft.sources.KvCommitLog]], the same
  * Delta-in-miniature discipline the KV sink uses):
  *
  * {{{
  *   dir/gen-N/meta.json        index descriptor (k, dim, rounds, …)
  *   dir/gen-N/centroids/       parquet (cid, cv)         — K·dim longs
  *   dir/gen-N/lists/cid=…/     parquet, PARTITIONED BY cid
  *   dir/_commit-N              manifest naming "gen-N"   — the commit
  * }}}
  *
  * A build stages everything inside `gen-N` and appends the manifest
  * LAST (atomic temp+rename): a crash mid-build leaves an orphan
  * generation no reader can see; a committed generation is always
  * complete. Rebuilds append `gen-(N+1)` without touching `gen-N`, so
  * in-flight probes pinned to an older version keep reading a frozen
  * snapshot — index time travel for free, same as the Store's
  * `asOfCommit`.
  *
  * Scale shape (the reason the layout is what it is):
  *   - centroids are K·dim longs — metadata-sized at any corpus size;
  *     probe ranking is a codegen'd literal-centroid projection over the
  *     QUERY batch only (no corpus scan, no shuffle).
  *   - lists are hash-partitioned ON DISK by `cid`; a probe collects its
  *     ≤ K distinct probe-list ids (bounded by K, independent of query
  *     count) into a static partition filter, so the list scan READS
  *     only nprobe/K of the corpus — pruning at the file listing, not a
  *     post-scan filter. The per-query candidate join is a broadcast
  *     equi-join on cid (query side ≪ corpus side, always).
  *   - scoring inside the probed lists is the exact codegen'd cosine
  *     kernel; ranking ties break on vec_id — bit-stable across runs.
  *
  * The fit math is byte-identical to [[KMeansQuant.fit]] (same kernels,
  * same qround means, same lowest-cid argmin tie-break), so persistence
  * cannot change a single retrieval result vs the inline query — gated
  * by `q_sim_ivf_persisted` sharing `q_sim_ivf_kmeans`'s oracle.
  *
  * Reference scope: the reference engine has no ANN surface (its store
  * is a KV file/Redis pair — src/Core/Store.hs:68-119); this is part of
  * the training-data-pipeline extension tier. */
object AnnIndex {

  /** Index descriptor, committed inside the generation. Probes derive
    * every parameter from this — a probe can never run with mismatched
    * geometry. `residual` marks PQ codebooks trained on coarse
    * residuals (qv − assigned centroid, the FAISS IndexIVFPQ default)
    * instead of the raw vectors; probes then build per-(query,
    * probed-list) ADC tables. */
  final case class IndexMeta(
      k: Int, dim: Int, rounds: Int, normalized: Boolean, count: Long,
      residual: Boolean = false)

  private def metaJson(m: IndexMeta): String =
    s"""{"k":${m.k},"dim":${m.dim},"rounds":${m.rounds},""" +
      s""""normalized":${m.normalized},"count":${m.count},""" +
      s""""residual":${m.residual}}"""

  private def parseMeta(s: String): IndexMeta = {
    def field(name: String): String = {
      val p = (s"""\"$name\":([^,}]+)""").r
      p.findFirstMatchIn(s).map(_.group(1)).getOrElse(
        throw new IllegalStateException(s"ann index meta missing '$name': $s"))
    }
    def optField(name: String, dflt: String): String = {
      val p = (s"""\"$name\":([^,}]+)""").r
      p.findFirstMatchIn(s).map(_.group(1)).getOrElse(dflt)
    }
    IndexMeta(field("k").toInt, field("dim").toInt, field("rounds").toInt,
      field("normalized").toBoolean, field("count").toLong,
      optField("residual", "false").toBoolean)
  }

  private def genName(v: Int) = s"gen-$v"

  /** Unique dot-hidden staging name: invisible to [[entriesAt]] (only
    * manifests name members) and collision-free across concurrent
    * writers, so no two builders ever write into the same directory. */
  private def stagingName(): String =
    s".staging-${System.nanoTime}-${Thread.currentThread.getId}"

  /** Latest committed generation version, 0 when none. */
  def latestVersion(dir: String): Int =
    KvCommitLog.latestVersion(Paths.get(dir))

  /** Row count of a just-staged parquet directory from its footers,
    * summed on the DRIVER (r16: replaces a `spark.read.parquet(…).count()`
    * whose only purpose was the meta row count — a full Spark action per
    * build). Footer metadata is O(files) local reads; the staging dir is
    * always on the builder's filesystem. */
  private[operators] def stagedRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  private def rmTreeLocal(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => rmTreeLocal(c)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  /** Recursive byte-identical directory copy on the driver — for
    * carrying committed driver-sized artifacts (centroids, pq
    * codebooks) into a new generation without a Spark job. */
  private def copyDirLocal(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.forEach { c =>
      val t = dst.resolve(c.getFileName)
      if (Files.isDirectory(c)) copyDirLocal(c, t)
      else Files.copy(c, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } finally s.close()
  }

  /** Test-only chaos hook: runs after a delta is fully staged and before
    * its manifest commits — the window where a concurrent commit forces
    * the OCC rebase (or, for a re-fit, the staleness abort). */
  @volatile var chaosHook: () => Unit = () => ()

  /** Fit the coarse quantizer on `data` and commit a new index
    * generation under `dir`. `data` must carry `idCol: long` and
    * `embCol: array<float>` of length `dim`; `seedIds` select the
    * init centroids (ascending id order = cid order, the same
    * data-derived seeding convention as the gated clustering queries).
    * Returns the committed version. */
  def build(data: DataFrame, idCol: String, embCol: String,
      seedIds: Seq[Long], rounds: Int, dim: Int, dir: String,
      normalized: Boolean = true): Int = {
    val spark = data.sparkSession
    import spark.implicits._
    val k = seedIds.size
    require(k > 0, "ann index needs at least one seed")

    val qv =
      if (normalized) KMeansQuant.quantizeNormalized(col(embCol))
      else KMeansQuant.quantize(col(embCol))
    val corpus = data.select(col(idCol), col(embCol)).withColumn("__qv", qv)
    val init = corpus.filter(col(idCol).isin(seedIds: _*))
      .orderBy(idCol).select("__qv").as[Seq[Long]].collect().toSeq
    require(init.size == k,
      s"seed ids missing from corpus: wanted $k, found ${init.size}")
    val (assigned, cents) =
      KMeansQuant.fit(spark, corpus, "__qv", init, rounds, dim)

    val base = Paths.get(dir)
    Files.createDirectories(base)
    val staged = stagingName()
    val gen = s"$dir/$staged"
    // stage the whole generation under a hidden unique name,
    // commit-manifest LAST (OCC: the rename + publish are no-clobber)
    cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
      .toDF("cid", "cv")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$gen/centroids")
    assigned
      .select(col("cluster").as("cid"), col(idCol), col(embCol))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$gen/lists")
    val count = stagedRowCount(spark, s"$gen/lists")
    Files.writeString(Paths.get(s"$gen/meta.json"),
      metaJson(IndexMeta(k, dim, rounds, normalized, count)))
    KvCommitLog.commitMember(base, staged, genName,
      (_, name) => Seq(name))
  }

  /** The manifest AT version v lists this version's member directories:
    * a fit generation publishes `[gen-N]`; a delta append publishes the
    * previous members PLUS its `delta-M` — so every version names its
    * complete list set, older versions stay frozen, and the head entry
    * is always the fit generation that owns centroids + meta. */
  private def entriesAt(dir: String, asOf: Option[Int]): (Seq[String], Int) = {
    val vs = KvCommitLog.versions(Paths.get(dir))
    require(vs.nonEmpty, s"no committed ann index at $dir " +
      "(an uncommitted generation directory is not an index)")
    val latest = vs.last._1
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"ann index version $v out of committed range [1, $latest] at $dir")
    val manifest = vs.find(_._1 == v).getOrElse(
      throw new IllegalStateException(s"ann index manifest $v missing at $dir"))._2
    val entries = Files.readAllLines(manifest)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
    require(entries.nonEmpty, s"ann index manifest $v at $dir is empty")
    (entries, v)
  }

  /** The version's fit generation (manifest lines are stored sorted, so
    * the owner is found by prefix, not position). */
  private def fitEntry(dir: String, entries: Seq[String]): String =
    entries.filter(_.startsWith("gen-")) match {
      case Seq(one) => one
      case other => throw new IllegalStateException(
        s"ann index manifest at $dir must name exactly one fit " +
          s"generation, found ${other.size}: ${entries.mkString(", ")}")
    }

  /** Descriptor of the committed generation (latest or `asOf`) — owned
    * by the version's fit generation. */
  def meta(dir: String, asOf: Option[Int] = None): IndexMeta = {
    val (entries, _) = entriesAt(dir, asOf)
    parseMeta(Files.readString(
      Paths.get(s"$dir/${fitEntry(dir, entries)}/meta.json")))
  }

  /** Committed centroids in cid order — K·dim longs, driver-sized.
    * Parsed ONCE per JVM per committed generation (r16): the table is an
    * immutable committed artifact (a new fit is a new gen directory), so
    * it rides [[graft.sources.KvMetaCache]] keyed on its single part
    * file — a stat per probe instead of a Spark read+collect job per
    * probe (streaming serve gates probe every micro-batch). */
  def centroids(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): Seq[Seq[Long]] = {
    val (entries, _) = entriesAt(dir, asOf)
    cachedLongVecTable(spark, s"$dir/${fitEntry(dir, entries)}/centroids",
      Seq("cid", "cv"))
      .map(row => (row(0).asInstanceOf[Long], longVec(row(1))))
      .sortBy(_._1).map(_._2)
  }

  /** Row array cell → immutable Seq[Long] (Spark hands back a mutable
    * ArraySeq for array columns). */
  private def longVec(cell: Any): Seq[Long] =
    cell.asInstanceOf[scala.collection.Seq[Long]].toSeq

  /** One committed single-part parquet table collected to the driver,
    * served through the immutable-metadata cache: the parse happens once
    * per JVM per file identity (generation dirs are never rewritten).
    * Falls back to an uncached read if the directory does not hold
    * exactly one part file (never true for coalesce(1) writers). */
  private def cachedLongVecTable(spark: SparkSession, dir: String,
      cols: Seq[String]): Seq[Seq[Any]] = {
    def readAll(): Seq[Seq[Any]] =
      spark.read.parquet(dir).select(cols.map(col): _*)
        .collect().toSeq.map(r => cols.indices.map(r.get))
    val parts = {
      val s = Files.list(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .toList
      } finally s.close()
    }
    parts match {
      case Seq(one) =>
        graft.sources.KvMetaCache.cached(one)(_ => readAll())
      case _ => readAll()
    }
  }

  /** Committed PQ codebooks, cached like [[centroids]]: per subspace in
    * m order, codewords in cid order. */
  private def pqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Seq[Long]]] =
    cachedLongVecTable(spark, dir, Seq("m", "cid", "cv"))
      .map(row => (row(0).asInstanceOf[Int], row(1).asInstanceOf[Long],
        longVec(row(2))))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** [[build]] plus PRODUCT-QUANTIZATION codes — the persisted IVFPQ
    * (FAISS IndexIVFPQ on disk): alongside the coarse generation, `m`
    * per-subspace codebooks are trained on the RAW quantized
    * coordinates (seeded from the same rows, exact-int Lloyd — the
    * q_sim_pq_adc construction) and every list row carries its M codes,
    * so [[probePq]] can ADC-score candidates from the codes alone —
    * the candidate read is M small ints per row, not the raw vector.
    * Layout adds `gen-N/pq/` (parquet: m, cid, cv) and `codeI` columns
    * in the lists; committed by the same manifest-last protocol.
    * `residual = true` (the FAISS IndexIVFPQ default) trains the
    * codebooks on — and the codes encode — the coarse residual
    * qv − assigned centroid instead of the raw quantized vector;
    * [[probePq]] reads the flag from the committed meta and builds its
    * ADC tables per probed list accordingly. */
  def buildPq(data: DataFrame, idCol: String, embCol: String,
      seedIds: Seq[Long], rounds: Int, dim: Int, dir: String,
      m: Int, residual: Boolean = false): Int = {
    val spark = data.sparkSession
    import spark.implicits._
    val k = seedIds.size
    require(k > 0, "ann index needs at least one seed")
    require(m > 0 && dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m

    // coarse: spherical fit (cosine retrieval), as build()
    val corpus = data.select(col(idCol), col(embCol))
      .withColumn("__qv", KMeansQuant.quantizeNormalized(col(embCol)))
      .withColumn("__pqv", KMeansQuant.quantize(col(embCol)))
    val init = corpus.filter(col(idCol).isin(seedIds: _*))
      .orderBy(idCol).select("__qv").as[Seq[Long]].collect().toSeq
    require(init.size == k,
      s"seed ids missing from corpus: wanted $k, found ${init.size}")
    val (assigned0, cents) =
      KMeansQuant.fit(spark, corpus, "__qv", init, rounds, dim)
    // code input: raw quantized subvectors, or the coarse residual in
    // the normalized space (codegen'd vecsub against the literal
    // centroid table)
    val assigned =
      if (!residual) assigned0
      else assigned0.withColumn("__pqv",
        graft.functions.GraftFunctions.vecSubNative(col("__qv"),
          element_at(typedlit(cents), (col("cluster") + 1L).cast("int"))))
    // PQ codebooks — the m independent fits run concurrently
    // (fitSubspaces keys on `vec_id`)
    val subCents = KMeansQuant.fitSubspaces(
      spark, assigned.withColumnRenamed(idCol, "vec_id"), "__pqv",
      seedIds, rounds, m, subDim)
    val coded = (0 until m).foldLeft(assigned) { (df, mm) =>
      val dists = KMeansQuant.distArray(
        slice(col("__pqv"), mm * subDim + 1, subDim), subCents(mm))
      df.withColumn(s"code$mm", array_position(dists, array_min(dists)) - 1L)
    }

    val base = Paths.get(dir)
    Files.createDirectories(base)
    val staged = stagingName()
    val gen = s"$dir/$staged"
    cents.zipWithIndex.map { case (cv, cid) => (cid.toLong, cv) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$gen/centroids")
    subCents.zipWithIndex.flatMap { case (cb, mm) =>
      cb.zipWithIndex.map { case (cv, cid) => (mm, cid.toLong, cv) }
    }.toDF("m", "cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$gen/pq")
    coded
      .select(col("cluster").as("cid") +: col(idCol) +: col(embCol) +:
        (0 until m).map(mm => col(s"code$mm")): _*)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$gen/lists")
    val count = stagedRowCount(spark, s"$gen/lists")
    Files.writeString(Paths.get(s"$gen/meta.json"),
      metaJson(IndexMeta(k, dim, rounds, normalized = true, count,
        residual = residual)))
    KvCommitLog.commitMember(base, staged, genName,
      (_, name) => Seq(name))
  }

  /** Probe a [[buildPq]] index with ADC scoring: list ranking exactly
    * as [[probe]] (frozen coarse centroids, static partition filter),
    * but candidates are scored from their STORED codes against the
    * query's per-subspace lookup tables — exact integer ADC, the raw
    * vectors never leave disk. Output (query_id, rk, vec_id, list_id,
    * distq), ranked (distq, id). */
  def probePq(queries: DataFrame, dir: String, idCol: String, embCol: String,
      nprobe: Int, topK: Int, excludeSelf: Boolean = false,
      asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val (entries, v) = entriesAt(dir, asOf)
    val m = meta(dir, Some(v))
    val cents = centroids(spark, dir, Some(v))
    val fit = fitEntry(dir, entries)
    require(Files.exists(Paths.get(s"$dir/$fit/pq")),
      s"index at $dir was built without PQ codebooks (AnnIndex.build) — " +
        "probe it with AnnIndex.probe, or rebuild with buildPq")
    val subCents: Seq[Seq[Seq[Long]]] = pqCodebooks(spark, s"$dir/$fit/pq")
    val pqM = subCents.size
    require(pqM > 0 && m.dim % pqM == 0,
      s"index at $dir has no usable pq codebooks")
    val subDim = m.dim / pqM

    val probes0 = queries
      .select(col(idCol).as("query_id"), col(embCol).as("__qemb"))
      .withColumn("__qv", KMeansQuant.quantizeNormalized(col("__qemb")))
      .withColumn("__pqv", KMeansQuant.quantize(col("__qemb")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cid"))
    val ranked0 = probes0
      .select(col("query_id"), col("__qv"), col("__pqv"),
        posexplode(KMeansQuant.distArray(col("__qv"), cents)))
      .select(col("query_id"), col("__qv"), col("__pqv"),
        col("pos").cast("long").as("cid"), col("col").as("cdist"))
      .withColumn("__crk", row_number().over(wProbe))
      .filter(col("__crk") <= nprobe)
    // residual index ⇒ the ADC table input is the query's residual vs
    // the PROBED centroid — per (query, list), mirroring the stored
    // codes (each candidate's codes are vs its own list's centroid)
    val ranked =
      if (!m.residual) ranked0
      else ranked0.withColumn("__pqv",
        graft.functions.GraftFunctions.vecSubNative(col("__qv"),
          element_at(typedlit(cents), (col("cid") + 1L).cast("int"))))
    val probes = (0 until pqM).foldLeft(ranked) { (df, mm) =>
      df.withColumn(s"qd$mm", KMeansQuant.distArray(
        slice(col("__pqv"), mm * subDim + 1, subDim), subCents(mm)))
    }.select(col("query_id") +: col("cid") +:
      (0 until pqM).map(mm => col(s"qd$mm")): _*)

    val probeCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val lists = entries.map(e =>
        graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$e/lists")
          .filter(col("cid").isin(probeCids: _*))
          .select(col("cid") +: col(idCol) +:
            (0 until pqM).map(mm => col(s"code$mm")): _*))
      .reduce(_ unionAll _)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distq"), col(idCol))
    val cand = lists.join(broadcast(probes), "cid")
    val filtered =
      if (excludeSelf) cand.filter(col(idCol) =!= col("query_id")) else cand
    filtered
      .withColumn("distq", (0 until pqM).map(mm =>
        element_at(col(s"qd$mm"), (col(s"code$mm") + 1L).cast("int")))
        .reduce(_ + _))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col(idCol).as("vec_id"),
        col("cid").cast("long").as("list_id"), col("distq"))
      .orderBy("query_id", "rk")
  }

  /** INCREMENTAL index maintenance — append `delta` vectors WITHOUT
    * re-fitting: each delta vector is assigned to the frozen committed
    * centroids (the same codegen'd literal-centroid projection the fit
    * used), its rows land in a new cid-partitioned `delta-M/lists`, and
    * the new version's manifest names the previous members plus the
    * delta — old generations stay frozen (asOf probes see the corpus as
    * of their version), nothing is rewritten, and probes over the new
    * version scan the union of the member lists with the same partition
    * pruning. This is how a 100 TB index tracks a growing corpus: the
    * quantizer re-fits rarely (a new fit generation), deltas append
    * daily at the cost of one assignment pass over the DELTA only.
    * Returns the committed version. */
  def appendDelta(delta: DataFrame, idCol: String, embCol: String,
      dir: String): Int = {
    val spark = delta.sparkSession
    import spark.implicits._
    val (entries, latest) = entriesAt(dir, None)
    val m = meta(dir, Some(latest))
    val cents = centroids(spark, dir, Some(latest))
    val qv =
      if (m.normalized) KMeansQuant.quantizeNormalized(col(embCol))
      else KMeansQuant.quantize(col(embCol))
    val assigned = KMeansQuant.withAssignment(
      delta.select(col(idCol), col(embCol)).withColumn("__qv", qv),
      "__qv", cents)
    // a PQ-carrying fit generation ⇒ deltas must carry codes too, or
    // probePq's list union would miss columns; codes come from the SAME
    // frozen codebooks
    val fit = fitEntry(dir, entries)
    val pqPath = Paths.get(s"$dir/$fit/pq")
    val (withCodes, codeCols) =
      if (!Files.exists(pqPath)) (assigned, Seq.empty[String])
      else {
        val subCents: Seq[Seq[Seq[Long]]] = pqCodebooks(spark, pqPath.toString)
        val subDim = m.dim / subCents.size
        // residual index ⇒ delta codes encode the residual vs the
        // FROZEN assigned centroid, exactly as the fit generation did
        val withPv =
          if (m.residual) assigned.withColumn("__pqv",
            graft.functions.GraftFunctions.vecSubNative(col("__qv"),
              element_at(typedlit(cents), (col("cluster") + 1L).cast("int"))))
          else assigned.withColumn("__pqv", KMeansQuant.quantize(col(embCol)))
        val coded = subCents.indices.foldLeft(withPv) {
          (df, mm) =>
            val dists = KMeansQuant.distArray(
              slice(col("__pqv"), mm * subDim + 1, subDim), subCents(mm))
            df.withColumn(s"code$mm",
              array_position(dists, array_min(dists)) - 1L)
        }
        (coded, subCents.indices.map(mm => s"code$mm"))
      }
    val staged = stagingName()
    val rows = withCodes
      .select(col("cluster").as("cid") +: col(idCol) +: col(embCol) +:
        codeCols.map(col): _*)
    rows.write.mode("overwrite").partitionBy("cid")
      .parquet(s"$dir/$staged/lists")
    // an empty partitioned parquet dir cannot be read back (no footer to
    // infer schema from) — committing one would poison every future
    // probe's union. r16: the emptiness check moved AFTER the write (one
    // staged write instead of cache+count+write+unpersist — the staging
    // dir is invisible to readers either way, so rejecting post-write is
    // equally safe) and the count comes from the staged footers.
    val count = stagedRowCount(spark, s"$dir/$staged/lists")
    if (count == 0) {
      rmTreeLocal(Paths.get(s"$dir/$staged"))
      throw new IllegalArgumentException(
        "appendDelta: delta is empty — nothing to commit")
    }
    Files.writeString(Paths.get(s"$dir/$staged/meta.json"),
      metaJson(m.copy(count = count)))
    chaosHook()
    // OCC rebase folds a concurrent delta's members into this manifest;
    // it is only sound while the delta's assignments/codes still match
    // the committed fit — a concurrent RE-FIT (new gen generation)
    // invalidates them, so that conflict aborts instead of rebasing
    KvCommitLog.commitMember(Paths.get(dir), staged,
      v => s"delta-$v",
      (_, name) => {
        val (now, _) = entriesAt(dir, None)
        require(fitEntry(dir, now) == fit,
          s"ann index at $dir was re-fit concurrently; this delta's " +
            "assignments/codes target the old quantizer — re-run appendDelta")
        now :+ name
      })
  }

  /** COMPACT the committed member set into one generation. Each
    * [[appendDelta]] adds a member directory, and a probe pays
    * per-member file listings and a wider list union; compaction
    * rewrites the union of all member lists as ONE `gen-(N+1)` (same
    * `cid` partitioning, so probe pruning is unchanged), carrying the
    * fit generation's centroids — and PQ codebooks when present —
    * FORWARD UNFITTED. No re-fit, no re-assignment, no re-encoding:
    * cluster ids and PQ codes are already materialized on every list
    * row, so moving the rows between files cannot change a single
    * probe result (the gate shares the incremental query's oracle).
    * Older versions keep their frozen member sets (`asOf`).
    * Returns the committed version. */
  def compact(spark: SparkSession, dir: String): Int = {
    val (entries, latest) = entriesAt(dir, None)
    val fit = fitEntry(dir, entries)
    val m = meta(dir, Some(latest))
    val total = entries.map(e => parseMeta(
      Files.readString(Paths.get(s"$dir/$e/meta.json"))).count).sum
    val staged = stagingName()
    val gen = s"$dir/$staged"
    // centroids/pq are carried forward UNFITTED — a byte-identical file
    // copy on the driver (r17; was a Spark read + coalesce(1) + write
    // job per table whose only purpose was duplicating a single
    // driver-sized committed part file into the new generation)
    copyDirLocal(Paths.get(s"$dir/$fit/centroids"),
      Paths.get(s"$gen/centroids"))
    if (Files.exists(Paths.get(s"$dir/$fit/pq")))
      copyDirLocal(Paths.get(s"$dir/$fit/pq"), Paths.get(s"$gen/pq"))
    entries.map(e => graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$e/lists"))
      .reduce(_ unionAll _)
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$gen/lists")
    Files.writeString(Paths.get(s"$gen/meta.json"),
      metaJson(m.copy(count = total)))
    // CAS at latest+1: the rewritten generation was derived from the
    // version-`latest` snapshot — any concurrent commit supersedes it,
    // so the compaction must abort (and rerun), never publish over it
    KvCommitLog.commitMember(Paths.get(dir), staged, genName,
      (_, name) => Seq(name), expectedBase = Some(latest))
  }

  /** Member directories named by the version's manifest (public for
    * specs measuring read amplification). */
  def members(dir: String, asOf: Option[Int] = None): Seq[String] =
    entriesAt(dir, asOf)._1

  /** Reclaim history: drop versions below `keepFrom` and delete member
    * directories only they referenced. Returns the deleted names. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    KvCommitLog.vacuum(Paths.get(dir), keepFrom)

  /** Probe the committed index: for each row of `queries`
    * (`idCol: long`, `embCol: array<float>`), rank the `nprobe`
    * nearest inverted lists by the SAME exact integer squared-L2 the
    * fit used (ties → lowest cid), scan only those lists, score by
    * exact cosine, return the top `topK` per query as
    * (query_id, rk, vec_id, list_id, cosine). NO re-fit happens here —
    * the corpus is never aggregated, only the probed list partitions
    * are read. `excludeSelf` drops candidates whose id equals the
    * query id (the self-join retrieval convention). */
  def probe(queries: DataFrame, dir: String, idCol: String, embCol: String,
      nprobe: Int, topK: Int, excludeSelf: Boolean = false,
      asOf: Option[Int] = None): DataFrame = {
    val spark = queries.sparkSession
    val (entries, v) = entriesAt(dir, asOf)
    val m = meta(dir, Some(v))
    val cents = centroids(spark, dir, Some(v))
    require(cents.size == m.k,
      s"index corrupt: ${cents.size} centroids vs meta k=${m.k}")

    val qv =
      if (m.normalized) KMeansQuant.quantizeNormalized(col("__qemb"))
      else KMeansQuant.quantize(col("__qemb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cid"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(embCol).as("__qemb"))
      .withColumn("__qv", qv)
      .select(col("query_id"), col("__qemb"),
        posexplode(KMeansQuant.distArray(col("__qv"), cents)))
      .select(col("query_id"), col("__qemb"),
        col("pos").cast("long").as("cid"), col("col").as("cdist"))
      .withColumn("__crk", row_number().over(wProbe))
      .filter(col("__crk") <= nprobe)
      .select("query_id", "__qemb", "cid")

    // Distinct probe-list ids: bounded by K regardless of query count,
    // so collecting them is a driver-sized action — and turning them
    // into a STATIC IN-filter on the partition column prunes the list
    // scan at file-listing time (nprobe/K of the corpus read, verified
    // by AnnIndexSpec against the scan's partition count).
    val probeCids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    // union of the version's member list dirs (fit generation + any
    // appended deltas), each scan pruned to the probed partitions
    val lists = entries.map(e =>
        graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$e/lists")
          .filter(col("cid").isin(probeCids: _*))
          .select(col("cid"), col(idCol), col(embCol)))
      .reduce(_ unionAll _)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol))
    val cand = lists.join(broadcast(probes), "cid")
    val filtered =
      if (excludeSelf) cand.filter(col(idCol) =!= col("query_id")) else cand
    filtered
      .withColumn("cosine",
        graft.functions.GraftFunctions.cosineNative(col("__qemb"), col(embCol)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      // cid comes back as the INFERRED partition-column type (int);
      // the public contract is bigint list ids
      .select(col("query_id"), col("rk"), col(idCol).as("vec_id"),
        col("cid").cast("long").as("list_id"), col("cosine"))
      .orderBy("query_id", "rk")
  }
}
