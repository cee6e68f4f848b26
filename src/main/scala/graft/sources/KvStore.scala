package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** ROW-LEVEL MUTATION for the KV store, through its commit log — the
  * r11 verdict's missing tier #2: the store had snapshots, zone maps and
  * OCC, but no gated way to change or forget individual rows. This lifts
  * the copy-on-write discipline of `q_store_forget` (operators/ZoneMaps,
  * over plain parquet) into the store's own transaction log
  * ([[KvCommitLog]]), composing with everything the store already has:
  *
  *  - **zone-map targeting**: only files whose committed sidecar bounds
  *    INTERSECT the predicate / key set are rewritten ([[KvZonePrune]]
  *    decides — the same pure function split planning uses, so "file
  *    cannot match" is the proven notion, not a re-implementation).
  *    Untouched files stay byte-identical on disk;
  *  - **distributed rewrite**: candidate files are rewritten by
  *    EXECUTORS (one task per file — the store's parallelism unit),
  *    surviving lines re-emitted verbatim, fresh zone-map stats
  *    accumulated with the sink's exact discipline (code-point string
  *    bounds, NaN/-0.0 normalization, overflow-withheld sums);
  *  - **one atomic version**: the whole mutation — removes of rewritten/
  *    emptied files, adds of their replacements (and, for MERGE, of the
  *    upsert batch) — is ONE manifest published by compare-and-swap at
  *    exactly `base+1` ([[KvCommitLog.tryAppendAt]]). A concurrent
  *    commit wins the slot → this mutation ABORTS with its staged adds
  *    cleaned up, and the caller re-runs against the new head — the
  *    compaction CAS discipline, because the rewrite is DERIVED from the
  *    snapshot at `base`;
  *  - **time travel preserved**: removed files stay on disk; reading
  *    `asOfCommit < base+1` sees the pre-mutation rows.
  *    [[vacuum]] (→ [[KvCommitLog.vacuumDelta]]) reclaims superseded
  *    files once history below a version is no longer needed.
  *
  * Scale shape (100 TB): the rewrite set is bounded by predicate/key
  * selectivity times file granularity — a keyed delete over a
  * range-partitioned store rewrites the covering files only, never the
  * store; the merge's key set is the CHANGE BATCH (CDC-sized, collected
  * to the driver for file targeting and broadcast to the rewrite tasks
  * — the corpus side never moves); commit cost is one metadata CAS.
  * Reference anchor: the Store's mutable hash surface
  * (/root/reference/src/Core/Store.hs:41-119 — `saveData` overwrites a
  * field in place); here overwrite-in-place becomes versioned
  * copy-on-write so readers keep their snapshot guarantees. */
object KvStore {

  /** Outcome of one mutation commit. */
  final case class Mutation(
      version: Int, rewritten: Int, emptied: Int, untouched: Int,
      rowsDeleted: Long, rowsAdded: Long)

  /** Max distinct merge keys collected to the driver (r16, the r15
    * verdict's driver-collect fix): up to this many keys the merge keeps
    * its original shape — exact zone-map + Bloom file targeting and a
    * closure-shipped key set. ABOVE it nothing key-shaped is ever
    * materialized on the driver: file targeting falls back to the
    * delta's [min, max] key range (one scalar aggregation; coarser but
    * sound — a superset of the exact candidate set), and per-file doomed
    * ordinals come from a DISTRIBUTED equi-join of the candidate files'
    * live (file, ordinal, key) rows with the delta's distinct keys,
    * grouped per file (one task row per file; bounded by the sink's
    * file-size discipline). Tunable via spark.graft.merge.keyCollectMax. */
  private def keyCollectMax(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.merge.keyCollectMax")
      .map(_.toLong).getOrElse(1000000L)

  /** Test introspection: true iff the last merge/mergeDV on this JVM
    * took the distributed (no-driver-key-set) path. */
  @volatile var lastMergeKeysDistributed: Boolean = false

  /** The delta's distinct non-null keys as a driver set — ONLY when
    * there are at most `max` of them (the limit stops the scan early);
    * None signals the wide-delta distributed path. */
  private def boundedKeys(upserts: DataFrame, keyCol: String,
      max: Long): Option[Set[Long]] = {
    val n = math.min(max + 1, Int.MaxValue.toLong).toInt
    val rows = upserts.select(keyCol).na.drop().distinct().limit(n).collect()
    if (rows.length > max) None
    else Some(rows.map(_.get(0) match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }).toSet)
  }

  /** Distinct non-null delta keys as a single long column `__k`
    * (never collected). */
  private def keysFrame(upserts: DataFrame, keyCol: String,
      deleteKeys: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = upserts.sparkSession
    import spark.implicits._
    val base = upserts.select(col(keyCol).cast(LongType).as("__k")).na.drop()
    (if (deleteKeys.isEmpty) base
     else base.unionAll(deleteKeys.toDF("__k"))).distinct()
  }

  /** Wide-delta candidate targeting: live files whose keyCol zone range
    * intersects the delta's [min, max] key span (files without a sidecar
    * are always candidates — never guess). One scalar aggregation of the
    * keys frame; per-key Bloom pruning is deliberately forfeited here —
    * it needs the key set, and read amplification (more candidate files
    * scanned by the distributed join) is the sound direction. */
  private def rangeCandidates(dir: String, live: Seq[String],
      keyCol: String, keysDf: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, col}
    val b = keysDf.agg(fmin(col("__k")), fmax(col("__k"))).head()
    if (b.isNullAt(0)) return Nil // empty delta: nothing can match
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    live.filter { name =>
      KvZoneMap.read(new File(dir, name)) match {
        case Some(st) => st.cols.get(keyCol) match {
          case Some((mn, mx)) => kmax >= mn && kmin <= mx
          case None => true
        }
        case None => true
      }
    }
  }

  /** Per-file doomed ordinals for a wide delta, computed distributedly:
    * candidate files are scanned by executors into (file, ordinal, key)
    * rows (live ordinals only — existing vectors applied, empty lines
    * counted but never emitted, NULL keys match nothing), equi-joined
    * with the delta's distinct keys, and grouped per file. Returns a
    * DATASET of (file, ascending ordinals) — callers stage vectors or
    * rewrites from its TASKS; only per-file names/counts ever reach the
    * driver. */
  private def distributedHits(spark: SparkSession, dir: String,
      schema: StructType, keyCol: String, candidates: Seq[String],
      dvs: Map[String, Seq[String]], keysDf: DataFrame)
      : org.apache.spark.sql.Dataset[(String, Seq[Long])] = {
    import org.apache.spark.sql.functions.{col, collect_list, sort_array}
    import spark.implicits._
    val ddl = schema.toDDL
    val withDvs = candidates.map(n => (n, dvs.getOrElse(n, Nil)))
    val fileRows = spark.sparkContext
      .parallelize(withDvs, math.min(math.max(candidates.size, 1),
        spark.sparkContext.defaultParallelism))
      .flatMap { case (name, dvNames) =>
        val parsed = StructType.fromDDL(ddl)
        val types = parsed.fields.map(_.dataType)
        val ki = parsed.fieldNames.indexOf(keyCol)
        val cursor = new KvDv.Cursor(
          KvDv.merged(dvNames.map(v => Paths.get(dir).resolve(v))))
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        val src = scala.io.Source.fromFile(new File(dir, name), "UTF-8")
        var ord = -1L
        try src.getLines().foreach { line =>
          ord += 1
          if (line.nonEmpty && !cursor.deleted(ord))
            KvRowEval.parse(line, types)(ki) match {
              case l: Long => buf += ((name, ord, l))
              case i2: Int => buf += ((name, ord, i2.toLong))
              case _ => () // NULL key matches no merge key
            }
        } finally src.close()
        buf
      }.toDF("__f", "__ord", "__k")
    fileRows.join(keysDf, "__k")
      .groupBy(col("__f"))
      .agg(sort_array(collect_list(col("__ord"))).as("__ords"))
      .as[(String, Seq[Long])]
  }

  /** DELETE FROM the store: remove every row satisfying ALL `filters`
    * (the conjunction; supported shapes = the scan's pushable set).
    * Copy-on-write through the log; returns the committed version.
    * An empty filter list deletes everything (TRUNCATE). */
  def deleteWhere(spark: SparkSession, dir: String, schema: StructType,
      filters: Seq[Filter], expectedBase: Option[Int] = None): Mutation =
    mutate(spark, dir, schema, filters, None, None, expectedBase)

  /** DELETE FROM via DELETION VECTORS ([[KvDv]], merge-on-read): instead
    * of rewriting every touched file, each zone-map-intersecting file
    * gets a tiny immutable vector of its newly-deleted row ordinals —
    * write cost ∝ rows deleted, NOT ∝ bytes touched (the 100 TB GDPR
    * shape: a keyed delete over a petabyte store commits kilobytes).
    * Vectors are computed per file by EXECUTORS against the live-ordinal
    * state at `base` (already-deleted rows are never re-deleted, so
    * vectors stay disjoint and the feed never double-counts) and
    * published as ONE `#dv` manifest CASed at exactly `base+1` — a
    * concurrent commit aborts this delete with its staged vectors
    * cleaned up. Data files stay byte-identical; reads subtract; time
    * travel below `base+1` sees the rows; [[purgeDvs]] or [[compact]]
    * materializes. An empty filter list is rejected (a TRUNCATE as a
    * full-store vector would be all write amplification, no benefit —
    * use [[deleteWhere]]). */
  def deleteWhereDV(spark: SparkSession, dir: String, schema: StructType,
      filters: Seq[Filter], expectedBase: Option[Int] = None): Mutation = {
    require(filters.nonEmpty,
      "graft kv store: deletion-vector TRUNCATE is pure overhead — use " +
        "deleteWhere for an unconditional delete")
    val dirPath = Paths.get(dir)
    val base = expectedBase.getOrElse(KvCommitLog.latestVersion(dirPath))
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val (live, dvs) = KvCommitLog.stateAsOf(dirPath, base)
    val candidates = live.toSeq.sorted.filter { name =>
      KvZoneMap.read(new File(dir, name)) match {
        case Some(st) => KvZonePrune.keeps(st, filters, Map.empty)
        case None => true
      }
    }
    if (candidates.isEmpty) return Mutation(base, 0, 0, live.size, 0L, 0L)
    val nonce = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val hit = stageVectors(spark, dir, schema, candidates, dvs, nonce,
      filters, None)
    if (hit.isEmpty) return Mutation(base, 0, 0, live.size, 0L, 0L)
    val stagingDir = dirPath.resolve("_staging")
    hit.foreach { case (_, dvName, _) =>
      Files.move(stagingDir.resolve(dvName), dirPath.resolve(dvName))
    }
    if (!KvCommitLog.tryAttachDvsAt(dirPath, base,
        hit.map { case (data, dvName, _) => (data, dvName) })) {
      hit.foreach { case (_, dvName, _) =>
        Files.deleteIfExists(dirPath.resolve(dvName)): Unit
      }
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base snapshot " +
          "this deletion-vector delete was derived from; staged vectors " +
          "rolled back — re-run the delete against the new head")
    }
    Mutation(base + 1, 0, 0, live.size, hit.map(_._3).sum, 0L)
  }

  /** RESTORE the store to the content of an earlier version, as a NEW
    * commit (the Delta `RESTORE TABLE ... TO VERSION AS OF` shape):
    * the manifest at `base+1` removes the current live files and
    * re-adds the target snapshot's — metadata-only, no data file moves
    * or rewrites, because the old files are still on disk until vacuum
    * (which is also why a restore below the vacuum horizon fails with
    * the explicit retention error from [[KvCommitLog.stateAsOf]]).
    * History is PRESERVED: the mistake stays time-travelable above the
    * restore point, and the restore itself is an auditable commit
    * ([[KvTableHistory]] shows it as a rewrite). Deletion-vector
    * attachments restore WITH their snapshot — restoring to a version
    * where a vector was live re-attaches it. OCC: CAS at base+1, a
    * concurrent commit aborts the restore (nothing staged to clean). */
  def restore(dir: String, toVersion: Int): Mutation = {
    val dirPath = Paths.get(dir)
    val base = KvCommitLog.latestVersion(dirPath)
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    require(toVersion >= 1 && toVersion <= base,
      s"graft kv store: restore target $toVersion out of committed " +
        s"range [1, $base] at $dir")
    if (toVersion == base) return Mutation(base, 0, 0,
      KvCommitLog.filesAsOf(dirPath, base).size, 0L, 0L)
    val (curLive, curDvs) = KvCommitLog.stateAsOf(dirPath, base)
    val (oldLive, oldDvs) = KvCommitLog.stateAsOf(dirPath, toVersion)
    // every restored file must still exist — vacuum may have reclaimed
    // history even though the manifests fold (fail loudly, not partially)
    val gone = oldLive.filter(n => !Files.isRegularFile(dirPath.resolve(n))) ++
      oldDvs.values.flatten.filter(n => !Files.isRegularFile(dirPath.resolve(n)))
    require(gone.isEmpty,
      s"graft kv store: cannot restore $dir to version $toVersion — " +
        s"vacuum reclaimed ${gone.toSeq.sorted.mkString(", ")}")
    // a file kept live but whose vector set drifted is CHURNED: removed
    // and re-added in this one manifest (the fold clears attachments on
    // re-add — '-name' sorts before 'name', so the net is a clean
    // re-insert), then the target snapshot's vectors re-attach. Files
    // with identical vectors need no lines at all — re-emitting their
    // `#dv` lines would double-attach.
    val churned = oldLive.filter(f => curLive(f) &&
      curDvs.getOrElse(f, Nil) != oldDvs.getOrElse(f, Nil))
    val removes = ((curLive -- oldLive) ++ churned).toSeq.sorted
    val adds = ((oldLive -- curLive) ++ churned).toSeq.sorted
    val dvLines = adds.flatMap(d =>
      oldDvs.getOrElse(d, Nil).map(v => s"#dv,$d,$v")).sorted
    val lines = removes.map("-" + _) ++ adds ++ dvLines
    if (removes.isEmpty && adds.isEmpty)
      return Mutation(base, 0, 0, curLive.size, 0L, 0L)
    if (!KvCommitLog.tryAppendAt(dirPath, base + 1, lines))
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base head " +
          "this restore was derived from — re-run")
    Mutation(base + 1, 0, 0, oldLive.size, 0L, 0L)
  }

  /** Executor fan-out shared by the merge-on-read writers: one task per
    * candidate file scans the LIVE rows (existing vectors applied),
    * collects the ordinals doomed by `filters` (conjunction) or by key
    * membership (`keys`, the merge condition — same doomed logic as
    * [[rewriteOne]]), and stages a new vector under `_staging`. Returns
    * only the files that had hits. */
  private def stageVectors(spark: SparkSession, dir: String,
      schema: StructType, candidates: Seq[String],
      dvs: Map[String, Seq[String]], nonce: String,
      filters: Seq[Filter], keys: Option[(String, Set[Long])])
      : Seq[(String, String, Long)] = {
    val ddl = schema.toDDL
    val staged: Seq[(String, String, Long)] = spark.sparkContext
      .parallelize(candidates.zipWithIndex,
        math.min(candidates.size, spark.sparkContext.defaultParallelism))
      .map { case (name, i) =>
        val parsed = StructType.fromDDL(ddl)
        val types = parsed.fields.map(_.dataType)
        val idx = parsed.fieldNames.zipWithIndex.toMap
        val keyIdx = keys.map { case (c, ks) => (idx(c), ks) }
        val existing = dvs.getOrElse(name, Nil)
          .map(v => Paths.get(dir).resolve(v))
        val cursor = new KvDv.Cursor(KvDv.merged(existing))
        val hits = scala.collection.mutable.ArrayBuffer.empty[Long]
        val src = scala.io.Source.fromFile(new File(dir, name), "UTF-8")
        var ord = -1L
        try src.getLines().foreach { line =>
          ord += 1
          if (line.nonEmpty && !cursor.deleted(ord)) {
            val doomed = keyIdx match {
              // a NULL key matches no merge key (SQL null semantics)
              case Some((ki, ks)) =>
                KvRowEval.parse(line, types)(ki) match {
                  case l: Long => ks.contains(l)
                  case i2: Int => ks.contains(i2.toLong)
                  case _ => false
                }
              case None =>
                val row = KvRowEval.parse(line, types)
                filters.forall(KvRowEval.eval(_, idx, row))
            }
            if (doomed) hits += ord
          }
        } finally src.close()
        val dvName = KvDv.name(nonce, i)
        if (hits.nonEmpty) {
          val stagingDir = new File(dir, "_staging")
          stagingDir.mkdirs()
          KvDv.write(stagingDir.toPath.resolve(dvName), hits.toArray)
        }
        (name, dvName, hits.size.toLong)
      }
      .collect().toSeq
    staged.filter(_._3 > 0L)
  }

  /** MERGE via DELETION VECTORS (merge-on-read CDC upsert): store rows
    * whose `keyCol` appears in the change batch are deleted by VECTOR
    * (no file rewritten — [[KvDv]]), and the upsert rows land through
    * the sink's own 2PC write; both halves publish as ONE manifest
    * (`#dv` lines + add lines) CASed at `base+1`. Same last-writer-wins
    * semantics as [[merge]], different physics: write cost ∝ change
    * batch + vectors, never ∝ the files the keys happen to live in —
    * the continuous-CDC shape at 100 TB, where the CoW grain's
    * rewrite-per-touched-file becomes the pipeline's entire I/O bill.
    * Reads subtract; [[purgeDvs]]/[[compact]] materialize on the
    * maintenance schedule instead of the ingest path. */
  def mergeDV(spark: SparkSession, dir: String, schema: StructType,
      keyCol: String, upserts: DataFrame, deleteKeys: Seq[Long] = Nil,
      expectedBase: Option[Int] = None): Mutation = {
    require(schema.fieldNames.contains(keyCol) &&
      (schema(keyCol).dataType == LongType || schema(keyCol).dataType == IntegerType),
      s"graft kv store: merge keyCol '$keyCol' must be an integer schema column")
    require(upserts.columns.toSeq == schema.fieldNames.toSeq,
      s"graft kv store: upsert columns ${upserts.columns.mkString(",")} must " +
        s"equal the store schema ${schema.fieldNames.mkString(",")}")
    // SQL-null merge semantics: a NULL key matches no store row (the
    // executor-side vector path already treats it so), so nulls are
    // dropped rather than dying in an opaque MatchError — the null-keyed
    // upsert rows themselves still land through the sink.
    // Key-set sizing (r16): a CDC-sized delta collects its distinct keys
    // exactly as before (exact zone+Bloom targeting); a delta wider than
    // keyCollectMax never materializes keys on the driver — range
    // targeting + the distributedHits join compute the vectors entirely
    // on executors, and only (file, vectorName, count) triples return.
    val narrowKeys = boundedKeys(upserts, keyCol, keyCollectMax(spark))
      .map(_ ++ deleteKeys)
    lastMergeKeysDistributed = narrowKeys.isEmpty
    val dirPath = Paths.get(dir)
    val base = expectedBase.getOrElse(KvCommitLog.latestVersion(dirPath))
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val (live, dvs) = KvCommitLog.stateAsOf(dirPath, base)
    val nonce = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val hit: Seq[(String, String, Long)] = narrowKeys match {
      case Some(affected) =>
        val runtimeKeys = Map(keyCol -> affected)
        val candidates = live.toSeq.sorted.filter { name =>
          KvZoneMap.read(new File(dir, name)) match {
            case Some(st) => KvZonePrune.keeps(st, Nil, runtimeKeys)
            case None => true
          }
        }
        if (candidates.isEmpty || affected.isEmpty) Nil
        else stageVectors(spark, dir, schema, candidates, dvs, nonce, Nil,
          Some(keyCol -> affected))
      case None =>
        import spark.implicits._
        val keysDf = keysFrame(upserts, keyCol, deleteKeys)
        val candidates =
          rangeCandidates(dir, live.toSeq.sorted, keyCol, keysDf)
        if (candidates.isEmpty) Nil
        else {
          val idxOf = candidates.zipWithIndex.toMap
          distributedHits(spark, dir, schema, keyCol, candidates, dvs, keysDf)
            .map { case (name, ords) =>
              // stage the vector IN THE TASK (the ordinal list never
              // crosses to the driver), same staging protocol as
              // stageVectors
              val stagingDir = new File(dir, "_staging")
              stagingDir.mkdirs()
              val dvName = KvDv.name(nonce, idxOf(name))
              KvDv.write(stagingDir.toPath.resolve(dvName), ords.toArray)
              (name, dvName, ords.size.toLong)
            }.collect().toSeq.sortBy(_._1)
        }
    }
    // the upsert half rides the sink's full 2PC/stats discipline into a
    // hidden scratch store, then its committed files are adopted (the
    // KvStore.merge pattern)
    val scratch = dirPath.resolve(s"_mergedv-$nonce")
    upserts.write.format("graft.sources.KvSinkProvider")
      .option("path", scratch.toString).mode("append").save()
    var rowsAdded = 0L
    val addNames = KvCommitLog.liveFiles(scratch).toSeq.sorted.map { n =>
      rowsAdded += KvZoneMap.read(scratch.resolve(n).toFile).map(_.rows).getOrElse(0L)
      Files.move(scratch.resolve(KvZoneMap.sidecarName(n)),
        dirPath.resolve(KvZoneMap.sidecarName(n)))
      Files.move(scratch.resolve(n), dirPath.resolve(n))
      n
    }
    KvCommitLog.rmTree(scratch.toFile)
    if (hit.isEmpty && addNames.isEmpty)
      return Mutation(base, 0, 0, live.size, 0L, 0L)
    val stagingDir = dirPath.resolve("_staging")
    hit.foreach { case (_, dvName, _) =>
      Files.move(stagingDir.resolve(dvName), dirPath.resolve(dvName))
    }
    val lines = hit.map { case (data, dvName, _) => s"#dv,$data,$dvName" } ++
      addNames
    if (!KvCommitLog.tryAppendAt(dirPath, base + 1, lines.sorted)) {
      hit.foreach { case (_, dvName, _) =>
        Files.deleteIfExists(dirPath.resolve(dvName)): Unit
      }
      addNames.foreach { n =>
        Files.deleteIfExists(dirPath.resolve(n)): Unit
        Files.deleteIfExists(dirPath.resolve(KvZoneMap.sidecarName(n))): Unit
      }
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base snapshot " +
          "this merge-on-read was derived from; staged changes rolled " +
          "back — re-run the merge against the new head")
    }
    Mutation(base + 1, 0, 0, live.size, hit.map(_._3).sum, rowsAdded)
  }

  /** MATERIALIZE deletion vectors: rewrite ONLY the vector-carrying
    * files (dropping their deleted ordinals), committing removes(those)
    * + adds(rewritten) at `base+1` — content identical, vectors gone,
    * their read-time subtraction cost reclaimed. The targeted little
    * sibling of [[compact]] (which folds the WHOLE live set and so also
    * materializes). Vector files themselves stay on disk for time
    * travel until [[vacuum]]. */
  def purgeDvs(spark: SparkSession, dir: String, schema: StructType): Mutation = {
    val dirPath = Paths.get(dir)
    val base = KvCommitLog.latestVersion(dirPath)
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val (live, dvs) = KvCommitLog.stateAsOf(dirPath, base)
    val targets = dvs.keys.toSeq.sorted
    if (targets.isEmpty) return Mutation(base, 0, 0, live.size, 0L, 0L)
    val nonce = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val ddl = schema.toDDL
    val rewrites: Seq[Rewrite] = spark.sparkContext
      .parallelize(targets.zipWithIndex,
        math.min(targets.size, spark.sparkContext.defaultParallelism))
      .map { case (name, i) =>
        rewriteOne(dir, name, ddl, Nil, None, s"purge-$nonce-$i.csv",
          dvs.getOrElse(name, Nil), purgeOnly = true)
      }
      .collect().toSeq
    val staging = dirPath.resolve("_staging")
    val (emptied, replaced) = rewrites.partition(_.kept == 0L)
    emptied.foreach(r =>
      Files.deleteIfExists(staging.resolve(r.staged)): Unit)
    replaced.foreach { r =>
      KvZoneMap.write(dirPath, r.staged, r.kept, r.stats, r.dstats, r.sstats,
        r.sums, r.nulls, r.blooms)
      Files.move(staging.resolve(r.staged), dirPath.resolve(r.staged),
        StandardCopyOption.REPLACE_EXISTING)
    }
    if (!KvCommitLog.tryReplaceAt(dirPath, base,
        replaced.map(_.staged).sorted, targets)) {
      replaced.foreach { r =>
        Files.deleteIfExists(dirPath.resolve(r.staged)): Unit
        Files.deleteIfExists(dirPath.resolve(KvZoneMap.sidecarName(r.staged))): Unit
      }
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base snapshot " +
          "this vector purge was derived from; staged files rolled back — " +
          "re-run")
    }
    Mutation(base + 1, replaced.size, emptied.size, live.size - targets.size,
      0L, 0L)
  }

  /** MERGE a change batch into the store, keyed on integer `keyCol`:
    * every store row whose key appears in `upserts` or `deleteKeys` is
    * removed (copy-on-write), then the `upserts` rows are inserted — the
    * last-writer-wins upsert ("update = replace the row", CDC merge
    * semantics). `upserts` must carry exactly the store schema's
    * columns. Keys present only in `deleteKeys` are row-level deletes.
    * One atomic commit covers removes and adds. */
  def merge(spark: SparkSession, dir: String, schema: StructType,
      keyCol: String, upserts: DataFrame, deleteKeys: Seq[Long] = Nil,
      expectedBase: Option[Int] = None): Mutation = {
    require(schema.fieldNames.contains(keyCol) &&
      (schema(keyCol).dataType == LongType || schema(keyCol).dataType == IntegerType),
      s"graft kv store: merge keyCol '$keyCol' must be an integer schema column")
    require(upserts.columns.toSeq == schema.fieldNames.toSeq,
      s"graft kv store: upsert columns ${upserts.columns.mkString(",")} must " +
        s"equal the store schema ${schema.fieldNames.mkString(",")}")
    // a CDC-sized change batch keeps the original shape: its distinct
    // keys drive exact file targeting and ride to the rewrite tasks in
    // the job closure — the store itself never shuffles. A delta WIDER
    // than keyCollectMax (r16) never materializes keys on the driver:
    // the doomed ordinals per candidate file come from the distributed
    // key join and the rewrites take them as per-file vectors.
    // SQL-null merge semantics: a NULL key matches no store row, so
    // nulls are dropped from the key set — the null-keyed upsert rows
    // themselves still land through the sink.
    boundedKeys(upserts, keyCol, keyCollectMax(spark)) match {
      case Some(upsertKeys) =>
        lastMergeKeysDistributed = false
        mutate(spark, dir, schema, Nil, Some(keyCol -> (upsertKeys ++ deleteKeys)),
          Some(upserts), expectedBase)
      case None =>
        lastMergeKeysDistributed = true
        mutate(spark, dir, schema, Nil, None, Some(upserts), expectedBase,
          wideKeys = Some((keyCol, keysFrame(upserts, keyCol, deleteKeys))))
    }
  }

  /** Reclaim files no snapshot ≥ `keepFrom` can reach (superseded by
    * delete/merge/overwrite), folding dropped history into a checkpoint. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    KvCommitLog.vacuumDelta(Paths.get(dir), keepFrom)

  /** IN-LOG COMPACTION (r13, the SQL maintenance tier): rewrite the live
    * set into `targetFiles` files through the sink's own 2PC writer and
    * publish removes(all live) + adds(compacted) as ONE manifest CASed at
    * `base+1` — the small-files fix with every store guarantee intact
    * (time travel below the compaction still serves the old files until
    * [[vacuum]]; a concurrent commit aborts the compaction, never the
    * concurrent writer). Content invariance is the caller's gate: the
    * row multiset is exactly the `asOfCommit=base` snapshot's. */
  def compact(spark: SparkSession, dir: String, schema: StructType,
      targetFiles: Int): Mutation = {
    require(targetFiles >= 1, s"graft kv store: target_files $targetFiles < 1")
    val dirPath = Paths.get(dir)
    val base = KvCommitLog.latestVersion(dirPath)
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val live = KvCommitLog.filesAsOf(dirPath, base).toSeq.sorted
    if (live.size <= targetFiles)
      return Mutation(base, 0, 0, live.size, 0L, 0L) // already compact
    // CLUSTERING-PRESERVING (r15): a store that paid for a z-order
    // layout must not have it destroyed by the next size-driven
    // maintenance pass — compact honors the persisted `_cluster` spec
    // and re-sorts within the rewrite (Delta's OPTIMIZE + ZORDER
    // composition). Without a spec (or with one that no longer names
    // two integer schema columns — schema evolution may drop/retype
    // them) it bin-packs by size exactly as before.
    val layout: DataFrame => DataFrame = clusteringOf(dir) match {
      case Some(cols) if zOrderable(schema, cols) =>
        zLayout(spark, cols, targetFiles)
      case _ => _.repartition(targetFiles)
    }
    rewriteSnapshot(spark, dir, schema, base, live, "compact", layout)
  }

  /** Z-ORDER CLUSTERING rewrite (the `OPTIMIZE ... ZORDER BY` shape):
    * fold the live set into `targetFiles` files RANGE-PARTITIONED AND
    * SORTED by the bit-interleaved z-value of two integer columns
    * ([[graft.functions.ZOrderExpression]] — the same codegen'd kernel
    * `q_zorder_layout` gates), so each committed file covers a tight
    * z-range ≈ a small RECTANGLE in (colA, colB) space and the existing
    * zone-map sidecars prune on BOTH columns at once. Linear layouts
    * cluster one dimension and scatter the other — a 2-D range query
    * over a petabyte store opens every file for the scattered dimension;
    * after z-ordering it opens O(query-area) files. Same transactional
    * shape as [[compact]]: content-invariant, ONE manifest CASed at
    * `base+1`, time travel preserved until vacuum, deletion vectors
    * materialized by the rewrite. */
  def zorder(spark: SparkSession, dir: String, schema: StructType,
      cols: (String, String), targetFiles: Int): Mutation = {
    require(targetFiles >= 1, s"graft kv store: target_files $targetFiles < 1")
    require(zOrderable(schema, cols),
      s"graft kv store: z-order columns '${cols._1},${cols._2}' must be " +
        "integer schema columns")
    val dirPath = Paths.get(dir)
    val base = KvCommitLog.latestVersion(dirPath)
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val live = KvCommitLog.filesAsOf(dirPath, base).toSeq.sorted
    if (live.isEmpty) return Mutation(base, 0, 0, 0, 0L, 0L)
    val m = rewriteSnapshot(spark, dir, schema, base, live, "zorder",
      zLayout(spark, cols, targetFiles))
    // Persist the clustering spec so later size-driven maintenance
    // ([[compact]]) re-sorts instead of destroying the layout this
    // rewrite just paid for. Written AFTER the commit CASes: a loser of
    // the OCC race records nothing. The spec is a maintenance PROPERTY,
    // not versioned content — restore/time-travel below the z-order
    // leaves it in place, and the worst a stale spec can cause is a
    // re-cluster that is content-invariant by construction.
    writeClustering(dirPath, cols)
    m
  }

  /** The persisted clustering spec for a store directory (`_cluster`
    * sidecar, one line `colA,colB`): written by [[zorder]], honored by
    * [[compact]]. Hidden-path discipline keeps it invisible to scans. */
  def clusteringOf(dir: String): Option[(String, String)] = {
    val p = Paths.get(dir).resolve("_cluster")
    if (!Files.exists(p)) None
    else Files.readString(p).trim.split(",", -1) match {
      case Array(a, b) if a.nonEmpty && b.nonEmpty => Some((a, b))
      case _ => None
    }
  }

  private def writeClustering(dirPath: java.nio.file.Path,
      cols: (String, String)): Unit = {
    val tmp = Files.createTempFile(dirPath, "_cluster", ".tmp")
    Files.writeString(tmp, s"${cols._1},${cols._2}")
    Files.move(tmp, dirPath.resolve("_cluster"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  private def zOrderable(schema: StructType, cols: (String, String)): Boolean =
    Seq(cols._1, cols._2).forall(c => schema.fieldNames.contains(c) &&
      (schema(c).dataType == LongType || schema(c).dataType == IntegerType))

  /** The z-order physical layout: range-partition + sort by the
    * bit-interleaved z-value ([[graft.functions.ZOrderExpression]], the
    * codegen'd kernel `q_zorder_layout` gates), then drop the helper. */
  private def zLayout(spark: SparkSession, cols: (String, String),
      targetFiles: Int): DataFrame => DataFrame = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.GraftFunctions.zorderNative(
      col(cols._1).cast(LongType), col(cols._2).cast(LongType))
    df => df.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Shared transactional core of the maintenance rewrites ([[compact]],
    * [[zorder]]): read the pinned `base` snapshot, lay it out with
    * `layout`, land through the sink's own 2PC writer into a scratch
    * store, adopt the files (sidecar first — a visible file always has
    * its stats), and publish removes(all live) + adds(rewritten) as ONE
    * manifest CASed at `base+1`. Presence-derived Bloom propagation: the
    * rewritten files re-bloom every column ANY folded member bloomed.
    * Content invariance is the caller's gate; a concurrent commit aborts
    * the rewrite (staged files rolled back), never the concurrent
    * writer. Time travel below the rewrite serves the old files until
    * [[vacuum]]; deletion vectors are materialized by the rewrite. */
  private def rewriteSnapshot(spark: SparkSession, dir: String,
      schema: StructType, base: Int, live: Seq[String], opName: String,
      layout: DataFrame => DataFrame): Mutation = {
    val dirPath = Paths.get(dir)
    val nonce = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val scratch = dirPath.resolve(s"_$opName-$nonce")
    val bloomCols = live.flatMap(n =>
      KvZoneMap.read(dirPath.resolve(n).toFile).map(_.blooms.keySet)
        .getOrElse(Set.empty))
      .distinct.filter(schema.fieldNames.contains).sorted
    layout(spark.read.format("graft.sources.KvSourceProvider")
        .option("path", dir).option("schema", schema.toDDL)
        .option("asOfCommit", base.toString) // pin the snapshot being folded
        .load())
      .write.format("graft.sources.KvSinkProvider")
      .option("path", scratch.toString)
      .option("bloomColumns", bloomCols.mkString(","))
      .mode("append").save()
    var rows = 0L
    val adopted = KvCommitLog.liveFiles(scratch).toSeq.sorted.map { n =>
      rows += KvZoneMap.read(scratch.resolve(n).toFile).map(_.rows).getOrElse(0L)
      Files.move(scratch.resolve(KvZoneMap.sidecarName(n)),
        dirPath.resolve(KvZoneMap.sidecarName(n)))
      Files.move(scratch.resolve(n), dirPath.resolve(n))
      n
    }
    KvCommitLog.rmTree(scratch.toFile)
    if (!KvCommitLog.tryReplaceAt(dirPath, base, adopted, live)) {
      adopted.foreach { n =>
        Files.deleteIfExists(dirPath.resolve(n)): Unit
        Files.deleteIfExists(dirPath.resolve(KvZoneMap.sidecarName(n))): Unit
      }
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base snapshot " +
          s"this $opName rewrite folded; staged files rolled back — re-run")
    }
    Mutation(base + 1, adopted.size, 0, 0, 0L, rows)
  }

  // ---- the copy-on-write engine -------------------------------------

  /** One rewritten file's outcome, shipped back from the executor.
    * `dvSkipped` counts rows the file's deletion vectors had ALREADY
    * deleted — physically dropped by this rewrite but not a semantic
    * change (they were invisible before it). */
  private final case class Rewrite(
      original: String, staged: String, kept: Long, dropped: Long,
      stats: Seq[(String, Long, Long)], dstats: Seq[(String, Double, Double)],
      sstats: Seq[(String, String, String)], sums: Seq[(String, Long)],
      nulls: Seq[(String, Long)],
      blooms: Seq[(String, Int, Int, Array[Long])] = Nil,
      dvSkipped: Long = 0L)

  /** `expectedBase` pins the snapshot this mutation derives from (OCC:
    * the commit CASes into exactly expectedBase+1, so ANY commit that
    * landed since — even before this call — aborts it); None derives
    * from the current head. */
  private def mutate(spark: SparkSession, dir: String, schema: StructType,
      filters: Seq[Filter], keys: Option[(String, Set[Long])],
      adds: Option[DataFrame], expectedBase: Option[Int],
      wideKeys: Option[(String, DataFrame)] = None): Mutation = {
    val dirPath = Paths.get(dir)
    val base = expectedBase.getOrElse(KvCommitLog.latestVersion(dirPath))
    require(base > 0, s"graft kv store: no commit log at $dir — not a store")
    val (liveSet, dvState) = KvCommitLog.stateAsOf(dirPath, base)
    val live = liveSet.toSeq.sorted
    val nonce = java.lang.Long.toUnsignedString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)
    val ddl = schema.toDDL
    // distributed rewrite: one task per candidate file (the store's own
    // parallelism unit); executors share the filesystem — the same
    // precondition the sink's staged-file commit already assumes
    val rewrites: Seq[Rewrite] = wideKeys match {
      case Some((keyCol, keysDf)) =>
        // wide-delta merge (r16): range-targeted candidates, doomed
        // ordinals from the distributed key join, one rewrite task per
        // HIT file with its ordinals as a per-file vector — the key set
        // never exists anywhere, and miss files are never rewritten
        import spark.implicits._
        val candidates = rangeCandidates(dir, live, keyCol, keysDf)
        if (candidates.isEmpty) Nil
        else {
          val idxOf = candidates.zipWithIndex.toMap
          distributedHits(spark, dir, schema, keyCol, candidates,
              dvState, keysDf)
            .map { case (name, ords) =>
              rewriteOne(dir, name, ddl, Nil, None,
                s"rw-$nonce-${idxOf(name)}.csv",
                dvState.getOrElse(name, Nil) /* dvPaths */,
                purgeOnly = false, doomedOrds = ords.toArray)
            }.collect().toSeq.sortBy(_.original)
        }
      case None =>
        val runtimeKeys = keys.map { case (c, ks) => Map(c -> ks) }
          .getOrElse(Map.empty[String, Set[Long]])
        // zone-map targeting: a file whose sidecar PROVES no row can match
        // is untouched; files without a sidecar must be rewritten (never
        // guess). Vector-carrying files' sidecars describe a SUPERSET of
        // their live rows — "cannot match" stays proven
        val candidates = live.filter { name =>
          KvZoneMap.read(new File(dir, name)) match {
            case Some(st) => KvZonePrune.keeps(st, filters, runtimeKeys)
            case None => true
          }
        }
        if (candidates.isEmpty) Nil
        else {
          val fseq = candidates.zipWithIndex
          spark.sparkContext
            .parallelize(fseq, math.min(fseq.size,
              spark.sparkContext.defaultParallelism))
            .map { case (name, i) =>
              rewriteOne(dir, name, ddl, filters, keys, s"rw-$nonce-$i.csv",
                dvState.getOrElse(name, Nil))
            }
            .collect().toSeq
        }
    }
    val untouchedCandidates = rewrites.filter(_.dropped == 0L)
    // a candidate that lost no row keeps its ORIGINAL file byte-identical
    untouchedCandidates.foreach(r =>
      Files.deleteIfExists(dirPath.resolve("_staging").resolve(r.staged)): Unit)
    val changed = rewrites.filter(_.dropped > 0L)
    val (emptied, replaced) = changed.partition(_.kept == 0L)
    emptied.foreach(r =>
      Files.deleteIfExists(dirPath.resolve("_staging").resolve(r.staged)): Unit)

    // the merge's INSERT half: write the change batch through the sink
    // itself (full stats/2PC discipline) into a hidden scratch store,
    // then adopt its committed files into this commit
    var addNames = Seq.empty[String]
    var rowsAdded = 0L
    adds.foreach { df =>
      val scratch = dirPath.resolve(s"_merge-$nonce")
      df.write.format("graft.sources.KvSinkProvider")
        .option("path", scratch.toString).mode("append").save()
      val names = KvCommitLog.liveFiles(scratch)
      addNames = names.toSeq.sorted.map { n =>
        rowsAdded += KvZoneMap.read(scratch.resolve(n).toFile).map(_.rows).getOrElse(0L)
        // sidecar first, then data — a visible file always has its stats
        Files.move(scratch.resolve(KvZoneMap.sidecarName(n)),
          dirPath.resolve(KvZoneMap.sidecarName(n)))
        Files.move(scratch.resolve(n), dirPath.resolve(n))
        n
      }
      KvCommitLog.rmTree(scratch.toFile)
    }

    // publish replacements: sidecar, then data file (same order as the sink)
    val staging = dirPath.resolve("_staging")
    replaced.foreach { r =>
      KvZoneMap.write(dirPath, r.staged, r.kept, r.stats, r.dstats, r.sstats,
        r.sums, r.nulls, r.blooms)
      Files.move(staging.resolve(r.staged), dirPath.resolve(r.staged),
        StandardCopyOption.REPLACE_EXISTING)
    }

    val removes = changed.map(_.original)
    val addLines = replaced.map(_.staged) ++ addNames
    if (removes.isEmpty && addLines.isEmpty)
      return Mutation(base, 0, 0, live.size, 0L, 0L) // no-op: nothing matched
    // CAS at exactly base+1: the rewrite was DERIVED from snapshot `base`,
    // so any concurrent commit invalidates it — abort, clean up our adds
    // (they are unnamed orphans otherwise), and let the caller re-run
    val lines = removes.sorted.map("-" + _) ++ addLines.sorted
    if (!KvCommitLog.tryAppendAt(dirPath, base + 1, lines)) {
      (addLines).foreach { n =>
        Files.deleteIfExists(dirPath.resolve(n)): Unit
        Files.deleteIfExists(dirPath.resolve(KvZoneMap.sidecarName(n))): Unit
      }
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-$base snapshot " +
          "this mutation was derived from; staged changes rolled back — " +
          "re-run the mutation against the new head")
    }
    Mutation(base + 1, replaced.size, emptied.size,
      live.size - changed.size, changed.map(_.dropped).sum, rowsAdded)
  }

  /** Executor-side rewrite of one store file: drop rows matching the
    * delete condition (all `filters` true, or key ∈ the merge key set),
    * re-emit surviving LINES VERBATIM (escapes and formatting preserved
    * bit-for-bit), and accumulate fresh sidecar stats with the sink's
    * exact semantics. Rows the file's deletion vectors (`dvPaths`,
    * relative names) already deleted are invisible here — never matched,
    * never re-emitted — so a CoW mutation over a vector-carrying file
    * materializes its vectors as a side effect; `purgeOnly` makes that
    * materialization the WHOLE job (no row is newly doomed). */
  /** `doomedOrds` (wide-delta merges): a precomputed ascending vector of
    * this file's newly-doomed LIVE ordinals — the doomed decision is then
    * a monotonic cursor probe instead of a key-set lookup, so the rewrite
    * task never holds the merge key set. */
  private def rewriteOne(dir: String, name: String, schemaDdl: String,
      filters: Seq[Filter], keys: Option[(String, Set[Long])],
      stagedName: String, dvPaths: Seq[String] = Nil,
      purgeOnly: Boolean = false, doomedOrds: Array[Long] = null): Rewrite = {
    val schema = StructType.fromDDL(schemaDdl)
    val types = schema.fields.map(_.dataType)
    val idx = schema.fieldNames.zipWithIndex.toMap
    val keyIdx = keys.map { case (c, ks) => (idx(c), ks) }
    val doomedCursor =
      if (doomedOrds == null) null else new KvDv.Cursor(doomedOrds)
    val statIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == LongType || f.dataType == IntegerType => i
    }
    val dStatIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == DoubleType => i
    }
    val sStatIdx = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == StringType => i
    }
    val mins = Array.fill(statIdx.length)(Long.MaxValue)
    val maxs = Array.fill(statIdx.length)(Long.MinValue)
    val sums = Array.fill(statIdx.length)(0L)
    val sumBad = Array.fill(statIdx.length)(false)
    val nullCnt = Array.fill(schema.fields.length)(0L)
    val dMins = Array.fill(dStatIdx.length)(Double.MaxValue)
    val dMaxs = Array.fill(dStatIdx.length)(Double.MinValue)
    val dNaN = Array.fill(dStatIdx.length)(false)
    val sMins = Array.fill[String](sStatIdx.length)(null)
    val sMaxs = Array.fill[String](sStatIdx.length)(null)
    // Bloom propagation is PRESENCE-derived, config-free: whichever
    // columns the ORIGINAL file's sidecar bloomed, the rewrite re-blooms
    // over the kept rows — a CoW mutation never silently downgrades a
    // store's point-lookup pruning tier
    val bloomIdx: Array[Int] =
      KvZoneMap.read(new File(dir, name)).map(_.blooms.keySet).getOrElse(Set.empty)
        .toArray.sorted.flatMap(c => idx.get(c).toArray)
    val bloomHashes = Array.fill(bloomIdx.length)(
      scala.collection.mutable.ArrayBuffer.empty[Long])
    var kept = 0L
    var dropped = 0L
    var dvSkipped = 0L
    val dvCursor = new KvDv.Cursor(
      KvDv.merged(dvPaths.map(v => new File(dir, v).toPath)))
    var ord = -1L
    val staging = new File(dir, "_staging")
    staging.mkdirs()
    val out = new java.io.BufferedWriter(
      new java.io.FileWriter(new File(staging, stagedName)))
    val src = scala.io.Source.fromFile(new File(dir, name), "UTF-8")
    try {
      src.getLines().filter { l => ord += 1; l.nonEmpty }.foreach { line =>
        if (dvCursor.deleted(ord)) dvSkipped += 1
        else {
        val row = KvRowEval.parse(line, types)
        val doomed = !purgeOnly &&
          (if (doomedCursor != null) doomedCursor.deleted(ord)
           else keyIdx match {
             // a NULL key matches no merge key (SQL null semantics)
             case Some((i, ks)) => row(i) match {
               case l: Long => ks.contains(l)
               case i2: Int => ks.contains(i2.toLong)
               case _ => false
             }
             case None => filters.forall(KvRowEval.eval(_, idx, row))
           })
        if (doomed) dropped += 1
        else {
          kept += 1
          var c = 0
          while (c < row.length) {
            if (row(c) == null) nullCnt(c) += 1
            c += 1
          }
          var j = 0
          while (j < statIdx.length) {
            row(statIdx(j)) match {
              case null => ()
              case raw =>
                val v = raw match {
                  case l: Long => l
                  case i2: Int => i2.toLong
                }
                if (v < mins(j)) mins(j) = v
                if (v > maxs(j)) maxs(j) = v
                if (!sumBad(j)) {
                  try sums(j) = Math.addExact(sums(j), v)
                  catch { case _: ArithmeticException => sumBad(j) = true }
                }
            }
            j += 1
          }
          j = 0
          while (j < dStatIdx.length) {
            row(dStatIdx(j)) match {
              case null => ()
              case raw =>
                val d = raw.asInstanceOf[Double]
                val v = if (d == 0.0) 0.0 else d
                if (java.lang.Double.isNaN(v)) dNaN(j) = true
                else {
                  if (v < dMins(j)) dMins(j) = v
                  if (v > dMaxs(j)) dMaxs(j) = v
                }
            }
            j += 1
          }
          j = 0
          while (j < sStatIdx.length) {
            row(sStatIdx(j)) match {
              case null => ()
              case raw =>
                val v = raw.asInstanceOf[String]
                if (sMins(j) == null || KvEscape.cpCompare(v, sMins(j)) < 0) sMins(j) = v
                if (sMaxs(j) == null || KvEscape.cpCompare(v, sMaxs(j)) > 0) sMaxs(j) = v
            }
            j += 1
          }
          j = 0
          while (j < bloomIdx.length) {
            row(bloomIdx(j)) match {
              case null => ()
              case l: Long => bloomHashes(j) += KvBloom.hashLong(l)
              case i2: Int => bloomHashes(j) += KvBloom.hashLong(i2.toLong)
              case s: String => bloomHashes(j) += KvBloom.hashString(s)
              case _ => ()
            }
            j += 1
          }
          out.write(line)
          out.newLine()
        }
        }
      }
    } finally { src.close(); out.close() }
    val empty = kept == 0L
    // bounds/sums only for columns with >=1 non-null kept value (the
    // writer's r13 discipline); null counts published for every column
    Rewrite(name, stagedName, kept, dropped,
      if (empty) Nil else statIdx.indices
        .filter(j => mins(j) <= maxs(j))
        .map(j => (schema.fields(statIdx(j)).name, mins(j), maxs(j))).toSeq,
      if (empty) Nil else dStatIdx.indices
        .filter(j => !dNaN(j) && dMins(j) <= dMaxs(j))
        .map(j => (schema.fields(dStatIdx(j)).name, dMins(j), dMaxs(j))).toSeq,
      if (empty) Nil else sStatIdx.indices
        .filter(j => sMins(j) != null)
        .map(j => (schema.fields(sStatIdx(j)).name, sMins(j), sMaxs(j))).toSeq,
      if (empty) Nil else statIdx.indices
        .filter(j => !sumBad(j) && mins(j) <= maxs(j))
        .map(j => (schema.fields(statIdx(j)).name, sums(j))).toSeq,
      if (empty) Nil else schema.fields.indices
        .map(c => (schema.fields(c).name, nullCnt(c))).toSeq,
      if (empty) Nil else bloomIdx.indices
        .filter(j => bloomHashes(j).nonEmpty)
        .map { j =>
          val b = KvBloom.build(bloomHashes(j).toArray)
          (schema.fields(bloomIdx(j)).name, b.k, b.m, b.bits)
        }.toSeq,
      dvSkipped)
  }
}
