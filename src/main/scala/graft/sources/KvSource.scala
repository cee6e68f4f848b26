package graft.sources

import java.io.File
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** File-backed key-value SOURCE — the read half of the Store analog
  * ([[KvSinkProvider]] is the write half). This completes the reference's
  * Redis store round trip (/root/reference/src/Core/Store.hs:99-119):
  * `getDataFromPat` there hscans the hash for fields matching `*pat` and
  * deserializes the matching values; here the committed directory stands
  * in for the hash, one committed file per field, and:
  *
  *  - **split planning**: one [[InputPartition]] per committed file —
  *    each reader parses exactly one task's committed output, so the scan
  *    parallelism equals the sink's write parallelism, with no driver
  *    materialization;
  *  - **match pattern** (`option("pattern", suffix)`): the hscan
  *    `*pat` analog, pruning whole FILES before split planning (the
  *    reference's LocalFileStore does the same with `isSuffixOf`,
  *    Store.hs:79);
  *  - **hidden-path discipline**: underscore-prefixed entries
  *    (`_staging`, orphaned straggler attempts) are never listed — the
  *    commit protocol's invariant that only published files are data;
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): readers
  *    emit only the requested fields;
  *  - **filter pushdown** (`SupportsPushDownFilters`): comparison
  *    predicates on any column are evaluated inside the reader during the
  *    parse, before any row is handed to Spark — the connector-side
  *    filtering a remote KV store would do server-side;
  *  - **snapshot time travel** (`option("asOfCommit", n)`): split
  *    planning consults the sink's [[KvCommitLog]] and reads exactly the
  *    files published by commits ≤ n — the Delta `versionAsOf` contract
  *    over the Store's own transaction log (flat local stores only).
  *
  * Usage: `spark.read.format("graft.sources.KvSourceProvider")
  * .option("path", dir).option("schema", "k LONG, v LONG").load()`.
  * The schema option is required (the sink's CSV carries no header), and
  * field types are the sink's supported four: long/int/double/string.
  *
  * NET MODE: `.option("endpoint", "host:port")` (instead of `path`)
  * reads through a live [[KvDaemon]] over TCP — split planning pages the
  * committed field names hscan-style, each task GET-streams one field,
  * and the same parse/filter/prune pipeline runs on the fetched lines.
  * The daemon applies the suffix `pattern` and hidden-path discipline
  * server-side and lists recursively.
  */
class KvSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schema")
    require(ddl != null && ddl.nonEmpty,
      "graft kv source requires option 'schema' (DDL, e.g. \"k LONG, v LONG\")")
    StructType.fromDDL(ddl)
  }
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KvReadTable(
      // mode=net reads through a live KvDaemon at option "endpoint"
      // (host:port) instead of listing the local filesystem; "path" is
      // then unused and may be omitted
      Option(properties.get("endpoint"))
        .map("net://" + _)
        .getOrElse(properties.get("path")),
      schema,
      Option(properties.get("pattern")).getOrElse(""),
      Option(properties.get("recursive")).exists(_.toBoolean),
      // snapshot time travel: plan splits from KvCommitLog manifests
      // with version <= asOfCommit instead of the latest directory view
      Option(properties.get("asOfCommit")).map(_.toInt),
      // value-partitioned layout (sink option partitionColumn): report
      // key-grouped output partitioning for storage-partitioned joins
      Option(properties.get("partitionedBy")),
      // streaming read: skip commits that carry remove lines instead of
      // failing on them (the Delta skipChangeCommits contract)
      Option(properties.get("skipChangeCommits")).exists(_.toBoolean),
      // CHANGE DATA FEED ([[KvChangeFeed]]): rows become insert/delete
      // events with _change_type/_commit_version columns; batch reads
      // take changesFrom/changesTo version bounds
      Option(properties.get("readChangeFeed")).exists(_.toBoolean),
      Option(properties.get("changesFrom")).map(_.toInt),
      Option(properties.get("changesTo")).map(_.toInt))
}

class KvReadTable(
    path: String, dataSchema: StructType, pattern: String, recursive: Boolean,
    asOfCommit: Option[Int] = None, partitionedBy: Option[String] = None,
    skipChangeCommits: Boolean = false, changeFeed: Boolean = false,
    changesFrom: Option[Int] = None, changesTo: Option[Int] = None)
    extends Table with SupportsRead {
  require(path != null && path.nonEmpty,
    "graft kv source requires option 'path' (or 'endpoint' for mode=net)")
  require(asOfCommit.isEmpty || (!path.startsWith("net://") && !recursive),
    "graft kv source: asOfCommit applies to flat local stores only " +
      "(the commit log names files in one directory)")
  require(partitionedBy.forall(c => dataSchema.fieldNames.contains(c) &&
    (dataSchema(c).dataType == LongType || dataSchema(c).dataType == IntegerType)),
    s"graft kv source: partitionedBy must name an integer-typed schema column")
  require(partitionedBy.isEmpty || !path.startsWith("net://"),
    "graft kv source: partitionedBy applies to local stores only")
  require(!changeFeed || (!path.startsWith("net://") && !recursive &&
    asOfCommit.isEmpty && partitionedBy.isEmpty && !skipChangeCommits),
    "graft kv source: readChangeFeed applies to flat local committed " +
      "stores (no net mode, recursion, asOfCommit, partitionedBy, or " +
      "skipChangeCommits — the feed CONSUMES change commits)")
  require(changeFeed || (changesFrom.isEmpty && changesTo.isEmpty),
    "graft kv source: changesFrom/changesTo require readChangeFeed=true")
  override def name(): String = s"graft_kv_source($path)"
  override def schema(): StructType =
    if (changeFeed) KvChangeFeed.appended(dataSchema) else dataSchema
  override def capabilities(): util.Set[TableCapability] =
    // a flat committed LOCAL store is also a streaming source: each
    // commit-log version is an offset (KvMicroBatchStream)
    if (path.startsWith("net://") || recursive || asOfCommit.isDefined)
      util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(path, dataSchema, pattern, recursive, asOfCommit,
      partitionedBy, skipChangeCommits, changeFeed, changesFrom, changesTo)
}

class KvScanBuilder(
    path: String, dataSchema: StructType, pattern: String, recursive: Boolean,
    asOfCommit: Option[Int] = None, partitionedBy: Option[String] = None,
    skipChangeCommits: Boolean = false, changeFeed: Boolean = false,
    changesFrom: Option[Int] = None, changesTo: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType =
    if (changeFeed) KvChangeFeed.appended(dataSchema) else dataSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Comparisons and null checks on schema columns are evaluated in the
    * reader (connector-side, before Spark sees the row); anything else is
    * returned unsupported and stays a post-scan filter. Pushed filters
    * are also RE-returned as post-scan residuals only when rejected —
    * accepted ones are fully handled here. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val names = dataSchema.fieldNames.toSet
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _) => names(a)
      case GreaterThan(a, _) => names(a)
      case GreaterThanOrEqual(a, _) => names(a)
      case LessThan(a, _) => names(a)
      case LessThanOrEqual(a, _) => names(a)
      case In(a, _) => names(a)
      case IsNotNull(a) => names(a)
      case _ => false
    }
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** STATS-ANSWERED aggregates: count(*) / count(col) [the sink never
    * writes nulls] / min / max over integer columns, unfiltered, are
    * answered from the committed zone-map sidecars — the scan opens a
    * data file only as a fallback when its sidecar is missing
    * (foreign/pre-stats writers). Ungrouped always; GROUPED BY the
    * store's partition column when reading with `partitionedBy` (each
    * value's rows/bounds fold exactly from its own files' sidecars —
    * per-file min/max are exact, and a group is a union of whole files).
    * The manifest-count path every real table format has: `count(*)` —
    * or `GROUP BY partition.count()` — over 100 TB is a metadata fold,
    * not a scan. Declines whenever a row filter was pushed (stats are
    * whole-file), in net mode, or for any other aggregate shape. */
  override def pushAggregation(a: Aggregation): Boolean =
    translateAgg(a) match {
      case Some(kinds) => agg = Some(kinds); true
      case None => false
    }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    translateAgg(a).isDefined

  private var agg: Option[KvAggPush] = None

  private def translateAgg(a: Aggregation): Option[KvAggPush] = {
    // change-feed rows are insert/delete EVENTS — sidecar stats describe
    // file content, not event multiplicity; never stats-answer a feed
    if (pushed.nonEmpty || path.startsWith("net://") || changeFeed) return None
    val ints = dataSchema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType => f.name
    }.toSet
    val all = dataSchema.fieldNames.toSet
    def ref(e: org.apache.spark.sql.connector.expressions.Expression,
        in: Set[String]): Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 && in(r.fieldNames()(0)) =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val groupCol: Option[String] = a.groupByExpressions() match {
      case Array() => None
      case Array(g) => // grouped: only by the declared partition column
        partitionedBy.flatMap(pc => ref(g, Set(pc))) match {
          case some @ Some(_) => some
          case None => return None
        }
      case _ => return None
    }
    val kinds = a.aggregateExpressions().toSeq.map[Option[KvAggKind]] {
      case _: CountStar => Some(KvAggRows)
      // count(col) skips nulls: answered from the sidecars' #n lines
      // (pre-tracking files fold by era detection — see aggReader)
      case c: Count if !c.isDistinct => ref(c.column(), all).map(KvAggCount)
      case m: Min => ref(m.column(), ints).map(KvAggMin)
      case m: Max => ref(m.column(), ints).map(KvAggMax)
      case sm: Sum if !sm.isDistinct => ref(sm.column(), ints).map(KvAggSum)
      case _ => None
    }
    if (kinds.nonEmpty && kinds.forall(_.isDefined))
      Some(KvAggPush(groupCol, kinds.map(_.get)))
    else None
  }

  override def build(): Scan =
    new KvScan(path, dataSchema, pattern, required, pushed, recursive,
      asOfCommit, agg,
      // key-grouped partitioning is only reportable while the partition
      // column survives pruning and no aggregate collapsed the scan
      partitionedBy.filter(c => agg.isEmpty && required.fieldNames.contains(c)),
      skipChangeCommits, changeFeed, changesFrom, changesTo)
}

/** Aggregates the kv source answers from sidecar stats. */
sealed trait KvAggKind extends Serializable
case object KvAggRows extends KvAggKind
case class KvAggCount(col: String) extends KvAggKind
case class KvAggMin(col: String) extends KvAggKind
case class KvAggMax(col: String) extends KvAggKind
case class KvAggSum(col: String) extends KvAggKind

/** A pushed stats aggregation: optional grouping by the store's
  * partition column, plus the aggregate list. */
case class KvAggPush(groupCol: Option[String], kinds: Seq[KvAggKind])

/** The zone-map FILE-SKIP decision, as a pure function so its soundness
  * ("a skipped file can hold no qualifying row") is property-testable
  * against a naive evaluator over arbitrary data and predicates
  * (KvZonePruneSpec). Typed: integer, double (bounds compared, never
  * summed) and string (lexicographic) families each prune their own
  * columns; a predicate whose literal doesn't convert to its column's
  * family — or whose column has no bounds — keeps the file (never
  * guess). */
object KvZonePrune {

  private def asLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case _ => None
  }
  private def asDouble(v: Any): Option[Double] = v match {
    case d: java.lang.Double => Some(d.doubleValue())
    case f: java.lang.Float => Some(f.doubleValue())
    case l: java.lang.Long => Some(l.doubleValue())
    case i: java.lang.Integer => Some(i.doubleValue())
    case _ => None
  }
  private def asStr(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case _ => None
  }

  /** One family's verdict for one predicate: None = this family doesn't
    * decide (no bounds for the column / unconvertible literal). */
  private def familyKeep[T](fi: Filter, bounds: Map[String, (T, T)],
      conv: Any => Option[T])(implicit ord: Ordering[T]): Option[Boolean] = {
    import ord._
    fi match {
      case EqualTo(a, v) => bounds.get(a).flatMap { case (mn, mx) =>
        conv(v).map(x => x >= mn && x <= mx) }
      case In(a, vs) => bounds.get(a).flatMap { case (mn, mx) =>
        val ts = vs.toSeq.flatMap(conv(_))
        if (ts.length != vs.length) None
        else Some(ts.exists(x => x >= mn && x <= mx)) }
      case GreaterThan(a, v) => bounds.get(a).flatMap { case (_, mx) =>
        conv(v).map(mx > _) }
      case GreaterThanOrEqual(a, v) => bounds.get(a).flatMap { case (_, mx) =>
        conv(v).map(mx >= _) }
      case LessThan(a, v) => bounds.get(a).flatMap { case (mn, _) =>
        conv(v).map(mn < _) }
      case LessThanOrEqual(a, v) => bounds.get(a).flatMap { case (mn, _) =>
        conv(v).map(mn <= _) }
      case _ => None
    }
  }

  def keeps(st: KvZoneMap.Stats, pushed: Seq[Filter],
      runtimeKeys: Map[String, Set[Long]]): Boolean = {
    // NaN never appears in published double bounds (the writer withholds
    // the column), and a NaN LITERAL must not prune (Spark: NaN = NaN);
    // -0.0 normalizes to 0.0 on both sides, so with NaN excluded the
    // total ordering below coincides with IEEE comparison
    def dblConv(v: Any): Option[Double] =
      asDouble(v).filterNot(java.lang.Double.isNaN)
        .map(d => if (d == 0.0) 0.0 else d)
    val staticOk = pushed.forall { fi =>
      familyKeep(fi, st.cols, asLong)
        .orElse(familyKeep(fi, st.dcols, dblConv)(Ordering.Double.TotalOrdering))
        // code-point order, matching the writer's bounds and Spark's own
        // UTF8String comparison (NOT Java's UTF-16 compareTo)
        .orElse(familyKeep(fi, st.scols, asStr)(KvEscape.cpOrdering))
        .getOrElse(true)
    }
    staticOk && pushed.forall(bloomKeep(st, _)) &&
      runtimeKeys.forall { case (c, keys) =>
        st.cols.get(c) match {
          case Some((mn, mx)) => keys.exists(k => k >= mn && k <= mx)
          case None => true
        } // Bloom tier for runtime join keys too: bounds may span the
          // domain while the filter proves every key absent
      } && runtimeKeys.forall { case (c, keys) =>
        // Probe only columns the sidecar PROVES integer (published int
        // bounds): the writer hashes int columns with hashLong and
        // string columns with hashString, so an untyped probe on a
        // future string runtime key would false-negative and silently
        // drop matching files (r13 advice). No int bounds ⇒ keep.
        st.blooms.get(c).filter(_ => st.cols.contains(c)) match {
          case Some(b) => keys.exists(k => b.mightContain(KvBloom.hashLong(k)))
          case None => true
        }
      }
  }

  /** Bloom verdict for one pushed predicate: only equality shapes decide,
    * only when the literal's type family matches what the writer hashed
    * (integer cols hash the widened Long, string cols the raw string —
    * a literal of any OTHER type never decides). False = the value is
    * PROVABLY absent from the file. */
  private def bloomKeep(st: KvZoneMap.Stats, fi: Filter): Boolean = {
    def hashOf(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(KvBloom.hashLong(l.longValue()))
      case i: java.lang.Integer => Some(KvBloom.hashLong(i.longValue()))
      case s: String => Some(KvBloom.hashString(s))
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(KvBloom.hashString(u.toString))
      case _ => None
    }
    fi match {
      case EqualTo(a, v) => st.blooms.get(a) match {
        case Some(b) => hashOf(v).forall(b.mightContain)
        case None => true
      }
      case EqualNullSafe(a, v) if v != null => st.blooms.get(a) match {
        case Some(b) => hashOf(v).forall(b.mightContain)
        case None => true
      }
      case In(a, vs) => st.blooms.get(a) match {
        case Some(b) =>
          val hs = vs.toSeq.map(hashOf)
          // every literal must hash (else this tier doesn't decide);
          // keep iff ANY literal might be present
          if (hs.exists(_.isEmpty)) true
          else hs.flatten.exists(b.mightContain)
        case None => true
      }
      case _ => true
    }
  }
}

/** One change-feed split: a committed (or removed-but-not-vacuumed)
  * file read as whole-row `insert` or `delete` events of one commit.
  * `data.dvs` are the deletion vectors already applied to the file at
  * this event's version (those rows are NOT part of the event — they
  * were deleted earlier); with `only`, the event is ONLY those vectors'
  * ordinals (the precise delete events of a `#dv` commit). */
case class KvCdfPartition(data: KvFilePartition, insert: Boolean,
    version: Int, only: Boolean = false)
    extends InputPartition

/** The CHANGE DATA FEED column contract (`readChangeFeed=true`):
  * `_change_type` ('insert' | 'delete') and `_commit_version` append to
  * the data schema. MULTISET semantics at the CoW grain: an append
  * commit feeds its added rows as inserts; a remove-carrying commit
  * (overwrite / row-level DELETE / MERGE / compaction) feeds every row
  * of each removed file as deletes and every row of each added file as
  * inserts — so folding `insert − delete` over any consumed prefix of
  * versions reconstructs the store's content at that version exactly,
  * without per-row change tracking (compaction nets to zero). The grain
  * a consumer pays is the grain the store mutates at. */
object KvChangeFeed {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  def appended(schema: StructType): StructType =
    StructType(schema.fields :+
      StructField(TypeCol, StringType, nullable = false) :+
      StructField(VersionCol, LongType, nullable = false))
}

/** Shared change-feed split planning (batch `table_changes` shape AND
  * each streaming micro-batch): `(from, to]` where `from == 0` plans the
  * CONVERGED content at `to` as one snapshot of inserts stamped at the
  * fold horizon (answerable even after vacuum folded early manifests —
  * a multiset fold of all changes in (0, to] IS the snapshot), and
  * `from > 0` plans per-version exact adds/removes from the manifests.
  * Zone-map skipping applies per file to BOTH event kinds: a file whose
  * sidecar proves the pushed predicate can never match feeds no events
  * for this filtered view — sound because its inserts and deletes are
  * dropped TOGETHER. */
object KvChangeFeedPlan {
  def partitions(path: String, dir: java.nio.file.Path, from: Int, to: Int,
      pattern: String, pushed: Seq[Filter]): Array[InputPartition] = {
    val events: Seq[KvCdfPartition] =
      if (to <= from) Nil
      // converged snapshot: live files with their vectors subtracted —
      // vector-deleted rows are not content at the fold horizon
      else if (from == 0)
        KvSnapshot.at(path, to).map(KvCdfPartition(_, insert = true, to))
      else {
        // per-version exact events, with a RUNNING vector state so that
        // (a) a `#dv` commit feeds exactly its newly-deleted rows as
        // deletes, and (b) a later REMOVE of a vector-carrying file feeds
        // only its still-live rows — nothing is ever deleted twice
        var dvs = KvCommitLog.dvsAsOf(dir, from)
        KvCommitLog.changesBetween(dir, from, to).flatMap {
          case (v, adds, removes, attaches) =>
            val parts =
              adds.sorted.map(n =>
                KvCdfPartition(KvSnapshot.entry(path, n), insert = true, v)) ++
              removes.sorted.map(n =>
                KvCdfPartition(KvSnapshot.entry(path, n, dvs.getOrElse(n, Nil)),
                  insert = false, v)) ++
              attaches.sortBy(_._1).map { case (d, vec) =>
                KvCdfPartition(KvSnapshot.entry(path, d, Seq(vec)),
                  insert = false, v, only = true)
              }
            removes.foreach(n => dvs -= n)
            adds.foreach(n => dvs -= n)
            attaches.foreach { case (d, vec) =>
              dvs = dvs.updated(d, dvs.getOrElse(d, Nil) :+ vec)
            }
            parts
        }
      }
    events.filter(e => e.data.name.endsWith(pattern) &&
      KvSnapshot.keeps(e.data.stats, pushed)).toArray
  }
}

/** Observability for file-skipping: per-path counters updated at split
  * planning (listed → planned after zone-map pruning), so specs and
  * operators can SEE pruning instead of trusting it. Driver-side only —
  * split planning runs on the driver. */
object KvPruneStats {
  import java.util.concurrent.ConcurrentHashMap
  private val stats = new ConcurrentHashMap[String, (Int, Int)]()
  def record(path: String, listed: Int, planned: Int): Unit =
    stats.put(path, (listed, planned)): Unit
  /** (files listed, files planned after pruning) for the last scan. */
  def last(path: String): Option[(Int, Int)] = Option(stats.get(path))
}

/** Observability for split-plan LISTING (r12): how the last scan of a
  * path derived its file view — `manifest` (planned from the commit log,
  * zero data-directory traversal) or `walk` (filesystem listing, the
  * log-less fallback). At millions of files the directory walk is the
  * classic lakehouse driver bottleneck the manifests exist to remove;
  * KvCatalogSpec pins that committed stores plan from manifests. */
object KvListStats {
  import java.util.concurrent.ConcurrentHashMap
  private val modes = new ConcurrentHashMap[String, String]()
  def record(path: String, mode: String): Unit = modes.put(path, mode): Unit
  def last(path: String): Option[String] = Option(modes.get(path))
}

/** A network split: one committed field served by a [[KvDaemon]] at
  * `endpoint`, pinned at `version` of its directory's log (the one its
  * SCAN listed it at) — the executor fetches it with a streaming GET,
  * and the daemon applies the vectors live at that version. */
case class KvNetPartition(endpoint: String, field: String, version: Int)
    extends InputPartition

/** A stats-answered aggregate "split": the reader folds the files'
  * committed sidecars (opening a data file only when its sidecar is
  * missing) and emits ONE row. `ansi` (captured at plan time) makes the
  * sum fold OVERFLOW-CHECKED, matching Spark's ANSI sum raising instead
  * of wrapping — per-file sums themselves never wrap (the writer
  * withholds an overflowed `#sum`, forcing the parse fallback). */
case class KvAggPartition(files: Seq[KvFilePartition], kinds: Seq[KvAggKind],
    groupCol: Option[String] = None, ansi: Boolean = false)
    extends InputPartition

/** One partition VALUE of a value-partitioned store: every file whose
  * committed sidecar pins the partition column to `value`. Carrying the
  * key ([[HasPartitionKey]]) is what lets Spark line partitions up across
  * two co-partitioned stores without shuffling either. */
case class KvGroupPartition(value: Long, isLong: Boolean,
    files: Seq[KvFilePartition])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(if (isLong) value else value.toInt)
}

class KvScan(
    path: String,
    dataSchema: StructType,
    pattern: String,
    required: StructType,
    pushed: Array[Filter],
    recursive: Boolean = false,
    asOfCommit: Option[Int] = None,
    agg: Option[KvAggPush] = None,
    partitionedBy: Option[String] = None,
    skipChangeCommits: Boolean = false,
    changeFeed: Boolean = false,
    changesFrom: Option[Int] = None,
    changesTo: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  /** STREAMING source over the commit log: every committed version is an
    * offset; see [[KvMicroBatchStream]]. Flat local stores only (the
    * same restriction as asOfCommit — offsets are log versions). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!path.startsWith("net://") && !recursive && asOfCommit.isEmpty &&
      agg.isEmpty,
      "graft kv source: streaming reads apply to flat local committed " +
        "stores (no net mode, recursion, asOfCommit, or pushed aggregates)")
    require(changesFrom.isEmpty && changesTo.isEmpty,
      "graft kv source: changesFrom/changesTo are batch change-feed " +
        "bounds — a streaming feed's range is its offsets")
    new KvMicroBatchStream(path, dataSchema, pattern, required, pushed,
      skipChangeCommits, changeFeed)
  }

  /** The files this scan parses, planned ONCE from [[KvSnapshot]] —
    * visible files that match the suffix pattern, each with its
    * deletion vectors; every consumer (splits, statistics, aggregate
    * folds) sees this one snapshot.
    *
    * MANIFEST-FIRST (r12): a committed flat store is planned from its
    * commit log — one `stateAsOf` fold, at `asOfCommit` when set, else
    * at the latest version — with ZERO directory traversal. At millions
    * of files that walk is the classic lakehouse driver bottleneck; here
    * listing cost becomes O(log size), metadata-only. Resolving the file
    * list and the vector attachments in one fold is the point: a scan
    * that resolved them separately could straddle a concurrent
    * `purge_dvs`/compact/zorder commit — reading a still-on-disk
    * version-N file with version-N+1's (empty) attachments, silently
    * resurrecting vector-deleted rows.
    *
    * The tree walk remains for log-less directories (where an asOf
    * snapshot names no file) and the RECURSIVE layout
    * (`path/batch=N/…`), where each subdirectory's own log applies.
    * `_staging` and any other hidden entries are never data. Not used
    * in net mode, which plans from the daemon's SCAN. */
  private lazy val files: Seq[KvFilePartition] = {
    val latest = KvCommitLog.latestVersion(java.nio.file.Paths.get(path))
    val manifest = !recursive && latest > 0
    KvListStats.record(path, if (manifest) "manifest" else "walk")
    val planned =
      if (manifest) KvSnapshot.at(path, asOfCommit.getOrElse(latest))
      else if (asOfCommit.isDefined) Nil
      else KvSnapshot.walk(path, recursive).map(_._1)
    // manifests may name non-file entries in foreign layouts
    // (artifact-store member directories); a scan parses files only
    planned.filter(f => f.name.endsWith(pattern) && new File(f.file).isFile)
  }

  /** Plan-time statistics from commit metadata: exact row count folded
    * from the zone-map sidecars, bytes from the file listing — no data
    * read. This is what lets Catalyst make the RIGHT join strategy call
    * (broadcast a store that IS small instead of sort-merging against the
    * unknown-size default) — at 100 TB, the difference between shipping a
    * kilobyte dimension and shuffling a fact table. Files without a
    * sidecar contribute size only (row count stays unknown overall,
    * matching the "never guess" discipline). */
  override def estimateStatistics(): Statistics = {
    if (path.startsWith("net://"))
      return new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    val bytes = files.map(f => new File(f.file).length()).sum
    var rows = 0L
    var allKnown = true
    files.foreach { f =>
      f.stats match {
        case Some(st) =>
          // vector-deleted rows are not content: exact statistics
          // subtract them (vectors are tiny, cached, and disjoint)
          rows += st.rows - KvDv.count(f.dvs.map(java.nio.file.Paths.get(_)))
        case None => allKnown = false
      }
    }
    val knownRows = if (allKnown) rows else -1L
    new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.of(bytes)
      override def numRows() =
        if (knownRows >= 0) java.util.OptionalLong.of(knownRows)
        else java.util.OptionalLong.empty()
    }
  }

  import org.apache.spark.sql.connector.expressions.{Expressions, Literal => VLiteral, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}

  /** With an aggregation pushed, Spark maps the scan output POSITIONALLY
    * to the aggregate list (no grouping is ever pushed here). */
  override def readSchema(): StructType = agg match {
    case None => required
    case Some(KvAggPush(groupCol, kinds)) =>
      val g = groupCol.map(c => StructField(c, dataSchema(c).dataType,
        nullable = false)).toSeq
      StructType(g ++ kinds.zipWithIndex.map {
        case (KvAggRows, i) => StructField(s"agg_$i", LongType, nullable = false)
        case (KvAggCount(_), i) => StructField(s"agg_$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
      })
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_kv($path pat='$pattern'" +
      asOfCommit.map(v => s" asOf=$v").getOrElse("") +
      s") cols=${readSchema().fieldNames.mkString(",")}" +
      (if (pushed.nonEmpty) s" pushed=${pushed.mkString(",")}" else "") +
      agg.map(p => s" aggpush=[" +
        p.groupCol.map(c => s"group=$c ").getOrElse("") +
        p.kinds.mkString(",") + "]").getOrElse("") +
      partitionedBy.map(c => s" keyGroupedBy=$c").getOrElse("")

  // ---- runtime (join-key) file skipping -------------------------------
  // Spark's dynamic-pruning machinery hands the materialized build-side
  // key set of a selective join to the scan BEFORE split planning (the
  // DSv2 generalization of dynamic partition pruning). We fold those key
  // sets into the same zone-map check the static pushed filters use:
  // a committed file whose [min,max] contains none of the keys is never
  // opened. Correctness does not depend on this — the join above still
  // filters rows — so unparseable predicates are simply ignored.

  private def intCols: Set[String] = dataSchema.fields.collect {
    case f if f.dataType == LongType || f.dataType == IntegerType => f.name
  }.toSet

  /** Runtime pruning is offered on every integer-typed column, for local
    * stores AND net mode (the daemon serves committed sidecars via
    * STATS). Restricted to the PRUNED read schema — Spark resolves these
    * refs against the scan relation's output, where pruned-away columns
    * no longer exist. */
  override def filterAttributes(): Array[NamedReference] =
    // a value-partitioned scan keeps its reported partition-value set
    // stable by declining runtime pruning (the join still filters rows)
    if (agg.isDefined || partitionedBy.isDefined) Array.empty
    else required.fieldNames.filter(intCols).sorted.map(Expressions.column)

  // ---- key-grouped output partitioning (storage-partitioned joins) ----
  // A store written with the sink's `partitionColumn` holds one-or-more
  // files per VALUE of that column (each file's sidecar has min==max).
  // Reporting KeyGroupedPartitioning over identity(col), with one split
  // per value carrying its partition key, lets Spark plan joins between
  // two co-partitioned stores — and aggregations keyed on the column —
  // WITHOUT a shuffle (`spark.sql.sources.v2.bucketing.enabled`). The
  // 100 TB shape: two fact tables co-partitioned at write join at read
  // with zero data movement, Hive-bucketed-join re-expressed as DSv2.

  /** Planned once and reused so outputPartitioning().numPartitions always
    * matches the splits actually handed to Spark. */
  private lazy val groupedByValue: Array[InputPartition] = {
    val col = partitionedBy.get
    val isLong = dataSchema(col).dataType == LongType
    val groups = files
      .flatMap { f =>
        val st = f.stats.getOrElse(throw new IllegalStateException(
          s"graft kv source: partitionedBy=$col but ${f.name} has no " +
            "stats sidecar — not a value-partitioned store"))
        if (st.rows == 0L) None // an empty file belongs to no value
        else {
          val (mn, mx) = st.cols.getOrElse(col, throw new IllegalStateException(
            s"graft kv source: no stats for partition column $col in ${f.name}"))
          require(mn == mx,
            s"graft kv source: ${f.name} spans $col in [$mn,$mx] — the store " +
              s"was not written with partitionColumn=$col")
          Some((mn, f))
        }
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
    groups.map { case (v, fs) =>
      KvGroupPartition(v, isLong, fs.map(_._2)): InputPartition
    }.toArray
  }

  override def outputPartitioning(): Partitioning = partitionedBy match {
    case Some(col) =>
      new KeyGroupedPartitioning(
        Array(Expressions.identity(col)), groupedByValue.length)
    case None => new UnknownPartitioning(0)
  }

  @volatile private var runtimeKeys: Map[String, Set[Long]] = Map.empty

  override def filter(predicates: Array[VPredicate]): Unit = {
    val parsed = predicates.toSeq.flatMap { p =>
      p.name() match {
        case "IN" | "=" =>
          val refs = p.children().collect { case r: NamedReference => r }
          val lits = p.children().collect { case l: VLiteral[_] => l.value() }
          val longs = lits.collect {
            case l: java.lang.Long => l.longValue()
            case i: java.lang.Integer => i.longValue()
          }
          refs match {
            case Array(r) if r.fieldNames.length == 1 &&
                intCols(r.fieldNames()(0)) && longs.length == lits.length &&
                longs.nonEmpty =>
              Some(r.fieldNames()(0) -> longs.toSet)
            case _ => None
          }
        case _ => None
      }
    }
    // multiple runtime filters on the same column intersect semantically;
    // keeping the smaller set is sound (pruning only ever keeps MORE files)
    runtimeKeys = parsed.groupBy(_._1).map { case (c, vs) =>
      c -> vs.map(_._2).minBy(_.size)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // BATCH change feed (`table_changes(from, to)` shape): per-version
    // exact above `changesFrom`; from 0 the initial content is one
    // snapshot of insert events stamped at the fold horizon — the same
    // contract as the streaming feed's first batch, and the one that
    // stays answerable after vacuum folded early manifests
    if (changeFeed) {
      val dir = java.nio.file.Paths.get(path)
      val latest = KvCommitLog.latestVersion(dir)
      // an explicit upper bound past the newest commit is a caller
      // error up front — letting it through either silently clamps (the
      // from==0 snapshot path) or surfaces as a misleading "was
      // vacuumed" from changesBetween (r13 advice)
      changesTo.filter(_ > latest).foreach { t =>
        throw new IllegalArgumentException(
          s"graft change feed: changesTo=$t exceeds the latest committed " +
            s"version $latest at $path")
      }
      val to = changesTo.getOrElse(latest)
      val from = changesFrom.getOrElse(0)
      return KvChangeFeedPlan.partitions(path, dir, from, to, pattern,
        pushed.toSeq)
    }
    if (path.startsWith("net://")) {
      val endpoint = path.stripPrefix("net://")
      val listed = KvDaemon.scanFields(endpoint, pattern).map { ref =>
        val Array(v, field) = ref.split(" ", 2)
        KvNetPartition(endpoint, field, v.toInt)
      }
      // server-side zone maps: the daemon serves each field's committed
      // sidecar (STATS), and the same zone-map filter drops fields a
      // pushed or runtime predicate can never match — file skipping
      // without a filesystem, the way a remote KV cluster would answer
      // from its own metadata. Statless fields are never skipped.
      val kept =
        if (pushed.isEmpty && runtimeKeys.isEmpty) listed
        else {
          // one connection for ALL sidecars (not one connect/QUIT per
          // field): planning a filtered scan of an n-field store is one
          // socket round, not n sequential driver round trips
          val stats = KvDaemon.statsForMany(endpoint, listed.map(_.field))
          listed.filter(p => KvSnapshot.keeps(stats.getOrElse(p.field, None),
            pushed.toSeq, runtimeKeys))
        }
      KvPruneStats.record(path, listed.length, kept.length)
      return kept.toArray
    }
    // value-partitioned layout: one split per partition value, planned
    // once (outputPartitioning's split count must stay consistent)
    if (partitionedBy.isDefined) return groupedByValue
    // stats-answered aggregate: one partition folding the sidecars (no
    // pushed filters by construction, so no pruning interplay); a
    // vector-carrying file's sidecar over-counts, so its vectors ride
    // along and force the reader's exact parse fallback for that file
    agg.foreach { p =>
      return Array(KvAggPartition(files, p.kinds, p.groupCol,
        org.apache.spark.sql.internal.SQLConf.get.ansiEnabled))
    }
    // zone-map file skipping: static pushed predicates and runtime join
    // keys against each file's committed min/max sidecar (absent ⇒ keep)
    val kept = files.filter(f => KvSnapshot.keeps(f.stats, pushed.toSeq, runtimeKeys))
    KvPruneStats.record(path, files.length, kept.length)
    kept.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(dataSchema, required.fieldNames, pushed)
}

/** The commit-log version as a streaming offset. */
case class KvVersionOffset(version: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** STREAMING source FROM the store (r13) — the commit log was already a
  * versioned change log (every append is one manifest, txn-marked and
  * checkpointed); this exposes it as a Structured Streaming source so
  * store-to-store pipelines compose: `readStream` over store A →
  * transform → txn-committed `foreachBatch` into store B is an
  * exactly-once chain with offsets on BOTH ends.
  *
  *  - **offset = committed version.** `latestOffset` is one metadata
  *    read; batch `(start, end]` reads exactly the files ADDED by those
  *    manifests ([[KvCommitLog.addsBetween]]) — delta planning, no
  *    directory walk, no re-read of old data.
  *  - **the FIRST batch is a snapshot**, `filesAsOf(end)` — so a stream
  *    started on an existing store begins from its full current content
  *    (vacuumed history folds through checkpoints, remove lines apply)
  *    and the converged result equals a batch read.
  *  - **non-append commits** (overwrite / row-level delete / merge /
  *    compaction carry remove lines) fail the stream by default; with
  *    `skipChangeCommits=true` they are skipped whole — the Delta
  *    change-feed contract, never a silent wrong answer.
  *  - **replay is exact**: offsets live in the stream's own checkpoint;
  *    a restart replans `(lastCommitted, …]` from the same immutable
  *    manifests ([[KvMetaCache]] makes that a memory hit).
  *
  * Scale note (100 TB): per-trigger planning cost is the NEW manifests
  * only — metadata-sized and independent of store size; the snapshot
  * batch parallelizes one task per committed file like every store scan.
  * Reference anchor: the reference's socket store streams whole fields
  * on demand (/root/reference/src/Core/Store.hs:99-119); versioned
  * append consumption is that stance under Spark's streaming contract. */
class KvMicroBatchStream(path: String, dataSchema: StructType,
    pattern: String, required: StructType, pushed: Array[Filter],
    skipChangeCommits: Boolean, changeFeed: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val dir = java.nio.file.Paths.get(path)

  override def initialOffset(): Offset = KvVersionOffset(0)
  override def latestOffset(): Offset =
    KvVersionOffset(KvCommitLog.latestVersion(dir))
  override def deserializeOffset(json: String): Offset =
    KvVersionOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = () // retention is vacuum policy
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KvVersionOffset].version
    val e = end.asInstanceOf[KvVersionOffset].version
    // CHANGE FEED: every commit kind flows as insert/delete events —
    // non-append commits are the feed's reason to exist, so neither the
    // fail-loudly default nor skipChangeCommits applies here
    if (changeFeed)
      return KvChangeFeedPlan.partitions(path, dir, s, e, pattern,
        pushed.toSeq)
    // the initial snapshot subtracts live deletion vectors (a batch read
    // would); delta batches are pure adds — fresh files have no vectors
    // at their add version, and a later `#dv` commit is a change commit
    // (fail or skip whole, per the contract above)
    val files =
      if (s == 0) KvSnapshot.at(path, e)
      else KvCommitLog.addsBetween(dir, s, e, skipChangeCommits).sorted
        .map(KvSnapshot.entry(path, _))
    // zone-map file skipping works per delta batch too
    files.filter(f => f.name.endsWith(pattern) && new File(f.file).isFile &&
      KvSnapshot.keeps(f.stats, pushed.toSeq)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvReaderFactory(dataSchema, required.fieldNames, pushed)

  override def toString: String =
    s"graft_kv_stream($path" +
      (if (skipChangeCommits) " skipChangeCommits" else "") +
      (if (changeFeed) " changeFeed" else "") + ")"
}

/** Row-level evaluation of pushed predicates against a parsed store row —
  * shared by the scan's connector-side filtering and [[KvStore]]'s
  * copy-on-write rewrites, so a DELETE drops exactly the rows a filtered
  * SELECT would have returned. String comparisons are code-point order
  * (Spark's own UTF8String semantics). */
object KvRowEval {
  /** Parse one CSV line into typed values (the sink writes
    * long/int/double/string with no quoting or embedded commas for
    * the numeric types; strings are written percent-escaped, so a
    * trailing -1 split limit preserves empty fields). */
  def parse(line: String, types: Array[DataType]): Array[Any] = {
    val parts = line.split(",", -1)
    Array.tabulate(types.length) { i =>
      // columns past the row's width were ADDED after the row was
      // written (ALTER TABLE ADD COLUMN appends at the end): null-fill.
      // Within the row, the empty field is the numeric null and the %N
      // token the string null (see KvEscape.NullToken).
      if (i >= parts.length) null
      else types(i) match {
        case LongType =>
          if (parts(i).isEmpty) null else java.lang.Long.valueOf(parts(i))
        case IntegerType =>
          if (parts(i).isEmpty) null else java.lang.Integer.valueOf(parts(i))
        case DoubleType =>
          if (parts(i).isEmpty) null else java.lang.Double.valueOf(parts(i))
        case StringType =>
          if (parts(i) == KvEscape.NullToken) null
          else KvEscape.unescape(parts(i))
        case dt => throw new IllegalArgumentException(
          s"graft kv source: unsupported field type ${dt.catalogString}")
      }
    }
  }

  def cmp(colV: Any, litV: Any): Int = colV match {
    case l: Long => java.lang.Long.compare(l, litV.asInstanceOf[Number].longValue())
    case i: Int => java.lang.Long.compare(i.toLong, litV.asInstanceOf[Number].longValue())
    case d: Double => java.lang.Double.compare(d, litV.asInstanceOf[Number].doubleValue())
    // code-point order = Spark's UTF8String order, so connector-side
    // filtering agrees with what Spark itself would have evaluated
    case s: String => KvEscape.cpCompare(s, litV.toString)
    case _ => throw new IllegalArgumentException(s"graft kv source: uncomparable $colV")
  }

  def eval(f: Filter, idx: Map[String, Int], row: Array[Any]): Boolean = {
    // SQL comparison semantics: any comparison with NULL is not-true
    def nn(a: String)(p: Any => Boolean): Boolean = {
      val x = row(idx(a)); x != null && p(x)
    }
    f match {
      case EqualTo(a, v) => nn(a)(cmp(_, v) == 0)
      case GreaterThan(a, v) => nn(a)(cmp(_, v) > 0)
      case GreaterThanOrEqual(a, v) => nn(a)(cmp(_, v) >= 0)
      case LessThan(a, v) => nn(a)(cmp(_, v) < 0)
      case LessThanOrEqual(a, v) => nn(a)(cmp(_, v) <= 0)
      case In(a, vs) => nn(a)(x => vs.exists(v => cmp(x, v) == 0))
      case IsNotNull(a) => row(idx(a)) != null
      case _ => true
    }
  }
}

class KvReaderFactory(
    dataSchema: StructType,
    requiredFields: Array[String],
    pushed: Array[Filter])
    extends PartitionReaderFactory {

  /** Fold the committed sidecar stats into aggregate rows — one row
    * globally, or one per partition value when grouped; a file without a
    * sidecar is PARSED instead (sound fallback for data written before
    * stats or by foreign flows: parsed rows bucket by the actual column
    * value, so even a value-spanning foreign file aggregates exactly) —
    * still never a Spark-side aggregate. */
  private def aggReader(p: KvAggPartition): PartitionReader[InternalRow] = {
    final class Acc {
      var rows = 0L
      val mins = scala.collection.mutable.Map.empty[String, Long]
      val maxs = scala.collection.mutable.Map.empty[String, Long]
      val sums = scala.collection.mutable.Map.empty[String, Long]
      // count(col) = non-null count, folded from #n sidecar lines or
      // era detection (a file predating the column is all-null for it)
      val cnts = scala.collection.mutable.Map.empty[String, Long]
      // ANSI: checked adds raise on overflow like Spark's own sum would;
      // non-ANSI: Long ring arithmetic equals Spark's wrapping sum
      def foldSum(c: String, sm: Long): Unit = {
        val cur = sums.getOrElse(c, 0L)
        sums(c) =
          if (p.ansi)
            try Math.addExact(cur, sm)
            catch { case _: ArithmeticException =>
              throw new ArithmeticException(
                s"graft kv source: sum($c) overflows Long (ANSI mode)")
            }
          else cur + sm
      }
      def fold(c: String, mn: Long, mx: Long): Unit = {
        mins.get(c) match {
          case Some(cur) => if (mn < cur) mins(c) = mn
          case None => mins(c) = mn
        }
        maxs.get(c) match {
          case Some(cur) => if (mx > cur) maxs(c) = mx
          case None => maxs(c) = mx
        }
      }
    }
    // key None = the global fold; key Some(v) = one partition value
    val accs = scala.collection.mutable.SortedMap.empty[Long, Acc]
    val global = new Acc
    def accFor(group: Option[Long]): Acc = group match {
      case None => global
      case Some(v) => accs.getOrElseUpdate(v, new Acc)
    }
    val intIdx = dataSchema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == LongType => (f.name, i, true)
      case (f, i) if f.dataType == IntegerType => (f.name, i, false)
    }
    val groupIdx: Option[(Int, Boolean)] = p.groupCol.map { c =>
      val i = dataSchema.fieldNames.indexOf(c)
      (i, dataSchema.fields(i).dataType == LongType)
    }
    // a sidecar answers for its file only when it carries everything this
    // query needs: a pinned partition value when grouped, a committed sum
    // for every SUM column with non-null values, and a decidable non-null
    // count for every COUNT column
    val sumCols = p.kinds.collect { case KvAggSum(c) => c }.toSet
    val cntCols = p.kinds.collect { case KvAggCount(c) => c }.toSet
    // count(col) from one file's stats: #n-tracked sidecars answer
    // exactly (a column absent from tracking predates the sidecar ⇒ all
    // null). Pre-tracking sidecars came from the no-nulls-era writer,
    // which ALWAYS published int/string bounds for rows>0 — so bounds
    // present ⇒ count=rows, absent ⇒ the file predates the column ⇒ 0.
    // Doubles are ambiguous there (NaN also withholds bounds) ⇒ parse.
    def countFromStats(st: KvZoneMap.Stats, c: String): Option[Long] =
      if (st.nullsTracked)
        st.nulls.get(c).map(st.rows - _).orElse(Some(0L))
      else dataSchema(c).dataType match {
        case LongType | IntegerType =>
          Some(if (st.cols.contains(c)) st.rows else 0L)
        case StringType => Some(if (st.scols.contains(c)) st.rows else 0L)
        case DoubleType => if (st.dcols.contains(c)) Some(st.rows) else None
        case _ => None
      }
    // a SUM whose sidecar entry is missing is fine ONLY when the column
    // is provably all-null in the file (contributes nothing); missing
    // with non-null values present = overflow-withheld ⇒ parse
    def sumOk(st: KvZoneMap.Stats, c: String): Boolean =
      st.sums.contains(c) || countFromStats(st, c).contains(0L)
    // null-aware field access for the parse fallback (short rows are
    // pre-evolution eras; empty numeric / %N string fields are nulls)
    def fieldOf(parts: Array[String], i: Int): String =
      if (i >= parts.length) null
      else if (parts(i).isEmpty || parts(i) == KvEscape.NullToken) null
      else parts(i)
    val cntIdx = cntCols.toSeq.map(c => (c, dataSchema.fieldNames.indexOf(c)))
    p.files.foreach { f =>
      // a vector-carrying file's sidecar over-counts its live rows —
      // never let it answer; the parse fallback subtracts exactly
      f.stats match {
        case Some(st) if f.dvs.isEmpty && (st.rows == 0L ||
            (p.groupCol.forall(c => st.cols.get(c).exists(b => b._1 == b._2)) &&
              sumCols.forall(sumOk(st, _)) &&
              cntCols.forall(countFromStats(st, _).isDefined))) =>
          if (st.rows > 0) {
            val acc = accFor(p.groupCol.map(c => st.cols(c)._1))
            acc.rows += st.rows
            st.cols.foreach { case (c, (mn, mx)) => acc.fold(c, mn, mx) }
            st.sums.foreach { case (c, sm) => acc.foldSum(c, sm) }
            cntCols.foreach { c =>
              acc.cnts(c) = acc.cnts.getOrElse(c, 0L) + countFromStats(st, c).get
            }
          }
        case _ =>
          // no sidecar, or (grouped) a value-spanning foreign file, or a
          // count/sum the stats cannot decide, or live deletion vectors:
          // parse and bucket row-by-row — exact either way (nulls skipped
          // like Spark's own aggregates skip them)
          val lines = KvSnapshot.lines(f)
          try lines.filter(_.nonEmpty).foreach { line =>
            val parts = line.split(",", -1)
            val acc = accFor(groupIdx.map { case (i, isLong) =>
              if (isLong) parts(i).toLong else parts(i).toInt.toLong
            })
            acc.rows += 1L
            intIdx.foreach { case (c, i, isLong) =>
              val raw = fieldOf(parts, i)
              if (raw != null) {
                val v = if (isLong) raw.toLong else raw.toInt.toLong
                acc.fold(c, v, v)
                acc.foldSum(c, v)
              }
            }
            cntIdx.foreach { case (c, i) =>
              if (fieldOf(parts, i) != null)
                acc.cnts(c) = acc.cnts.getOrElse(c, 0L) + 1L
            }
          } finally lines.close()
      }
    }
    def rowOf(group: Option[Long], acc: Acc): InternalRow = {
      val aggVals = p.kinds.map[Any] {
        case KvAggRows => acc.rows
        case KvAggCount(c) => acc.cnts.getOrElse(c, 0L)
        case KvAggMin(c) => acc.mins.get(c).map(Long.box).orNull
        case KvAggMax(c) => acc.maxs.get(c).map(Long.box).orNull
        case KvAggSum(c) => acc.sums.get(c).map(Long.box).orNull
      }
      val g: Seq[Any] = (group, groupIdx) match {
        case (Some(v), Some((_, isLong))) => Seq(if (isLong) v else v.toInt)
        case _ => Nil
      }
      InternalRow.fromSeq(g ++ aggVals)
    }
    val out: Seq[InternalRow] =
      if (p.groupCol.isDefined) accs.toSeq.map { case (v, a) => rowOf(Some(v), a) }
      else Seq(rowOf(None, global))
    new PartitionReader[InternalRow] {
      private val it = out.iterator
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case p: KvAggPartition => return aggReader(p)
      case _ => ()
    }
    // same parse/filter/project pipeline over either line stream: local
    // committed files or a daemon-served network fetch. `currentFile`
    // names the entry the CURRENT line came from — the `_file` metadata
    // column (row-level CoW group identity; also exposed to users like
    // input_file_name); for net splits the daemon field is the analog.
    var currentFile: String = null
    // change-feed constants for this split (KvCdfPartition only)
    var cdfType: UTF8String = null
    var cdfVersion: Long = -1L
    val (lineSrc, closer): (Iterator[String], () => Unit) = partition match {
      case KvNetPartition(endpoint, field, version) =>
        currentFile = field
        val fl = new KvDaemon.FieldLines(endpoint, field, version)
        (fl, () => fl.close())
      case local =>
        val (files, only) = local match {
          case f: KvFilePartition => (Seq(f), false)
          case g: KvGroupPartition => (g.files, false)
          case KvCdfPartition(data, insert, version, only) =>
            cdfType = UTF8String.fromString(if (insert) "insert" else "delete")
            cdfVersion = version.toLong
            require(new File(data.file).isFile, s"graft kv source: change-" +
              s"feed file ${data.file} is gone — vacuumed below the feed's " +
              "horizon; keep vacuum above any change-feed reader's replay range")
            (Seq(data), only)
        }
        // the files in turn (a value's files for a group split); each
        // closes as its lines run out, the closer covers an abandoned read
        var open: AutoCloseable = null
        val it = files.iterator.flatMap { f =>
          currentFile = f.name
          val ls = KvSnapshot.lines(f, only)
          open = ls
          ls
        }
        (it, () => if (open != null) open.close())
    }
    val idx = dataSchema.fieldNames.zipWithIndex.toMap
    val types = dataSchema.fields.map(_.dataType)
    // negative sentinels mark virtual (non-parsed) columns: -1 = _file,
    // -2 = _change_type, -3 = _commit_version
    val outIdx = requiredFields.map {
      case KvRowLevel.FileCol => -1
      case KvChangeFeed.TypeCol => -2
      case KvChangeFeed.VersionCol => -3
      case f => idx(f)
    }

    new PartitionReader[InternalRow] {
      private val lines = lineSrc
      private var current: Array[Any] = _

      private def parse(line: String): Array[Any] =
        KvRowEval.parse(line, types)

      override def next(): Boolean = {
        current = null
        while (current == null && lines.hasNext) {
          val line = lines.next()
          if (line.nonEmpty) {
            val row = parse(line)
            if (pushed.forall(KvRowEval.eval(_, idx, row))) current = row
          }
        }
        current != null
      }

      override def get(): InternalRow =
        InternalRow.fromSeq(outIdx.toSeq.map {
          case -1 => UTF8String.fromString(currentFile)
          case -2 => cdfType
          case -3 => cdfVersion
          case i => current(i) match {
            case s: String => UTF8String.fromString(s)
            case v => v
          }
        })

      override def close(): Unit = closer()
    }
  }
}
