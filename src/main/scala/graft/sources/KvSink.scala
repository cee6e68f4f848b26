package graft.sources

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File-backed key-value SINK — the write half of the DataSource V2
  * surface ([[SeqSourceProvider]] is the read half), and the Spark analog
  * of the reference's Store layer (/root/reference/src/Core/Store.hs:
  * workers persist partition files; the server treats a task as done only
  * once its output is registered).
  *
  * The interesting part is the COMMIT PROTOCOL, which is what turns
  * Spark's at-least-once task execution (see TaskRetrySpec) into
  * exactly-once output:
  *
  *   1. every task attempt writes to a private staged file
  *      `_staging/part-<partition>-<taskId>` — attempts never collide;
  *   2. a successful attempt's [[DataWriter.commit]] returns a message
  *      naming its staged file; a failed attempt's abort() deletes it;
  *   3. the driver's [[BatchWrite.commit]] — called once, with exactly
  *      one message per partition — hands the named files to
  *      [[KvCommitLog.publish]], which moves them into the target
  *      directory and names them in one manifest. That publish is the one
  *      every store write goes through (the [[KvStore]] verbs and SQL
  *      row-level rewrites included). A failed job's abort() deletes
  *      every staged file of the write, a straggler's included.
  *
  * Rows are written as CSV (long/int/double/string fields). String
  * fields PERCENT-ESCAPE the three characters that would break line/field
  * framing (`%` → %25, `,` → %2C, newline → %0A, CR → %0D) —
  * [[KvSourceProvider]] reverses the escape, and a committed directory
  * holding delimiter-free strings stays directly readable by
  * `spark.read.csv` / DuckDB too.
  *
  * PRECONDITION: `path` must be on a filesystem shared by executors and
  * driver — the staging directory lives UNDER the target path and the
  * driver publishes by filesystem move, the same assumption every
  * staged-file committer makes about its output filesystem. That holds
  * for local mode (this harness) and for a cluster writing to a mounted
  * shared FS; a production port to an object store would swap the
  * java.nio calls for the Hadoop FileSystem API, keeping the protocol
  * (per-attempt staged file → commit message → driver publish) as is.
  */
class KvSinkProvider extends TableProvider {
  // write-only: schema comes from the dataframe being written
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KvTable(properties.get("path"), schema,
      Option(properties.get("partitionColumn")),
      Option(properties.get("txnId")),
      KvBloomCols.parse(Option(properties.get("bloomColumns")), schema))
}

/** `bloomColumns` option/property parsing shared by the sink and the
  * catalog: comma-separated column names, each int/long/string-typed
  * (doubles are rejected — NaN/-0.0 canonicalization makes float point
  * lookups a smell, same stance as the zone-map double family which
  * carries bounds only). */
object KvBloomCols {
  def parse(opt: Option[String], schema: StructType): Seq[String] = {
    val cols = opt.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    cols.foreach { c =>
      val i = schema.fieldNames.indexOf(c)
      require(i >= 0, s"graft kv sink: bloomColumns column '$c' not in schema")
      require(Seq(LongType, IntegerType, StringType)
        .contains(schema.fields(i).dataType),
        s"graft kv sink: bloomColumns column '$c' must be integer- or " +
          "string-typed (point lookups on doubles don't bloom)")
    }
    cols.distinct
  }
}

class KvTable(path: String, writeSchema: StructType,
    partCol: Option[String] = None, txnId: Option[String] = None,
    bloomCols: Seq[String] = Nil)
    extends Table with SupportsWrite {
  require(path != null && path.nonEmpty, "graft kv sink requires option 'path'")
  override def name(): String = s"graft_kv_sink($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new KvBatchWrite(path, info.schema(), partCol, replace, txnId,
            bloomCols)
      }
    }
}

/** `schema` is the layout WRITTEN (the physical era schema on evolved
  * catalog tables). With `expandFrom` ([[KvColView]]) the incoming rows
  * are the view's LOGICAL shape and each is expanded to the physical
  * layout before the task writer sees it — null at dropped positions,
  * birth-name sidecar keys throughout. With `group` the write is the
  * replacement half of a SQL row-level operation: it replaces the
  * groups that operation scanned at its pinned base. */
class KvBatchWrite(path: String, schema: StructType,
    partCol: Option[String] = None, replace: Boolean = false,
    txnId: Option[String] = None, bloomCols: Seq[String] = Nil,
    expandFrom: Option[KvColView] = None,
    constraints: Seq[KvConstraint] = Nil,
    group: Option[KvRowLevelOperation] = None)
    extends BatchWrite {
  /** Per-write nonce folded into staged/published file names: partitionId
    * and taskId are only unique within one SparkContext, and with
    * overwrite + time travel an old version's file must NEVER be clobbered
    * by a later write that happens to reuse the same task numbering (a
    * fresh JVM writing to an existing store). */
  private val nonce: String = KvCommitLog.nonce()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val inner = KvWriterFactory(path, schema, partCol, nonce, bloomCols,
      constraints)
    expandFrom match {
      case Some(v) => KvExpandingWriterFactory(inner,
        schema.fields.map(_.dataType), v.writeMapping)
      case None => inner
    }
  }

  /** Driver-side atomic publish of exactly one staged file per partition
    * (Spark's OutputCommitCoordinator guarantees one committed attempt)
    * through [[KvCommitLog.publish]].
    *
    * A REPLACE commit — INSERT OVERWRITE / SaveMode.Overwrite through
    * SupportsTruncate, or a row-level rewrite (`group`) — removes a file
    * set read at a specific base version: the live set at the head for an
    * overwrite, the operation's scanned groups for a row-level rewrite.
    * It publishes at exactly base+1, so a concurrent commit aborts it;
    * append()'s blind retry would let two racing overwrites both land,
    * yielding the union of their write sets. Old snapshots stay readable,
    * nothing is physically deleted.
    *
    * With `txnId` (streaming foreachBatch exactly-once) the id is
    * recorded in the manifest, and a replayed batch whose id the log
    * already holds discards its staged files and publishes NOTHING. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val target = group.map(_.replaced).orElse(
      if (!replace) None
      else {
        val b = KvCommitLog.latestVersion(dir)
        Some((b, KvCommitLog.filesAsOf(dir, b).toSeq))
      })
    val staged = messages.toSeq.flatMap { case KvCommit(files) => files }
    val v = KvCommitLog.publish(dir, target.map(_._1), staged,
      target.map(_._2).getOrElse(Nil), txn = txnId)
    if (v == 0) abort(messages) // replay of an already-committed txn
  }

  /** Discard every staged file of THIS write: the ones the messages name,
    * and any other staged file carrying this write's nonce. When one task
    * fails the job, a sibling that commits afterwards sends no message
    * here, so its staged file is found by name. Other writes' staged
    * files (other nonces) are left alone. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case KvCommit(files) =>
        files.foreach(sf => Files.deleteIfExists(Paths.get(sf.stagedFile)))
      case _ => ()
    }
    // staged names are part-<partition>-<task>-<nonce>[-p<key>].csv
    def ours(name: String): Boolean = name.split("-", 4) match {
      case Array("part", _, _, rest) =>
        rest.startsWith(s"$nonce.") || rest.startsWith(s"$nonce-")
      case _ => false
    }
    Option(new File(path, "_staging").listFiles()).getOrElse(Array.empty[File])
      .filter(f => ours(f.getName))
      .foreach(f => Files.deleteIfExists(f.toPath))
  }
}

/** WRITE-TIME CONSTRAINTS (r15): NOT NULL and bounded CHECK, enforced at
  * the writing task's commit from the zone-map accumulators it already
  * maintains — zero additional per-row cost (the same min/max/null-count
  * the sidecar publishes is exactly the evidence a bounds check needs).
  * A violating task THROWS before returning its commit message, so the
  * job aborts, [[KvBatchWrite.abort]] discards every staged file, and
  * nothing publishes — the 2PC discipline upgraded to a constraint gate.
  * SQL semantics: a NULL value never violates CHECK (only NOT NULL
  * rejects nulls); NaN counts as greater than any finite bound (Spark's
  * double ordering). Columns are BIRTH names on evolved tables — the
  * writer schema is physical there, so indices resolve directly. */
sealed trait KvConstraint extends Serializable {
  def name: String
  def col: String
  def describe: String
}
final case class KvNotNull(col: String) extends KvConstraint {
  def name = s"notnull_$col"
  def describe = s"$col IS NOT NULL"
}
/** `col OP literal` with OP ∈ >=, >, <=, <, = over an int/double/string
  * column; `value` is the literal rendered as a string (parsed per the
  * column type at check time). */
final case class KvCheckBound(name: String, col: String, op: String,
    value: String) extends KvConstraint {
  require(Seq(">=", ">", "<=", "<", "=").contains(op),
    s"graft kv catalog: unsupported CHECK operator '$op'")
  def describe = s"$col $op $value"
}

object KvConstraint {
  /** Violation evidence from one staged file's accumulated stats: None =
    * provably satisfied, Some(msg) = violated (msg names the observed
    * bound). All-null columns satisfy every CHECK (SQL: null never
    * violates CHECK). */
  def violation(c: KvConstraint, schema: StructType, nulls: Long,
      intBounds: Option[(Long, Long)], dblBounds: Option[(Double, Double)],
      hasNaN: Boolean, strBounds: Option[(String, String)]): Option[String] =
    c match {
      case KvNotNull(col) =>
        if (nulls > 0) Some(s"$nulls null value(s) in '$col'") else None
      case KvCheckBound(_, col, op, value) =>
        schema(col).dataType match {
          case LongType | IntegerType =>
            val v = value.toLong
            intBounds.flatMap { case (mn, mx) =>
              val bad = op match {
                case ">=" => mn < v
                case ">" => mn <= v
                case "<=" => mx > v
                case "<" => mx >= v
                case "=" => mn != v || mx != v
              }
              if (bad) Some(s"observed [$mn, $mx] in '$col'") else None
            }
          case DoubleType =>
            val v = value.toDouble
            // NaN orders above every finite double in Spark semantics
            if (hasNaN && (op == "<=" || op == "<" || op == "="))
              Some(s"NaN in '$col'")
            else dblBounds.flatMap { case (mn, mx) =>
              val bad = op match {
                case ">=" => mn < v
                case ">" => mn <= v
                case "<=" => mx > v
                case "<" => mx >= v
                case "=" => mn != v || mx != v
              }
              if (bad) Some(s"observed [$mn, $mx] in '$col'") else None
            }
          case StringType =>
            strBounds.flatMap { case (mn, mx) =>
              def cmp(a: String, b: String) = KvEscape.cpCompare(a, b)
              val bad = op match {
                case ">=" => cmp(mn, value) < 0
                case ">" => cmp(mn, value) <= 0
                case "<=" => cmp(mx, value) > 0
                case "<" => cmp(mx, value) >= 0
                case "=" => cmp(mn, value) != 0 || cmp(mx, value) != 0
              }
              if (bad) Some(s"observed ['$mn', '$mx'] in '$col'") else None
            }
          case dt => throw new IllegalArgumentException(
            s"graft kv sink: CHECK on unsupported type ${dt.catalogString}")
        }
    }
}

/** One entry a [[KvCommitLog.publish]] brings into a store directory. */
sealed trait KvMember

/** One staged file with its write-time statistics, written by a task (the
  * sink's or a copy-on-write rewrite's) under `_staging`; publish writes
  * its sidecar from these stats. A sink task commits one of these per
  * output file: exactly one in the default layout, one per partition value
  * present in its input for `partitionColumn` writes. */
case class KvStagedFile(
    stagedFile: String,
    rows: Long,
    stats: Seq[(String, Long, Long)],
    dstats: Seq[(String, Double, Double)] = Seq.empty,
    sstats: Seq[(String, String, String)] = Seq.empty,
    sums: Seq[(String, Long)] = Seq.empty,
    nulls: Seq[(String, Long)] = Seq.empty,
    blooms: Seq[(String, Int, Int, Array[Long])] = Seq.empty)
    extends KvMember {
  def name: String = Paths.get(stagedFile).getFileName.toString
}

/** A file committed in a scratch store (a merge's insert half, a
  * maintenance rewrite): it moves in with the sidecar it already has. */
final case class KvAdopted(from: java.nio.file.Path) extends KvMember

/** A deletion vector staged for live data file `data` ([[KvDv]]): it
  * moves in and attaches to `data`. */
final case class KvStagedDv(data: String, from: java.nio.file.Path)
    extends KvMember

/** A file already in the directory that the commit adds again (a restore
  * re-adds an earlier snapshot's files): nothing moves. */
final case class KvPresent(name: String) extends KvMember

case class KvCommit(files: Seq[KvStagedFile]) extends WriterCommitMessage

/** Per-file ZONE MAPS for the Store: the task that writes a file already
  * sees every row, so it records min/max of each integer-typed column for
  * free; the driver publishes them as a hidden sidecar `_zm.<file>` next
  * to the data file at commit. The source consults sidecars at PLAN time
  * to skip files a pushed (or runtime join-key) predicate can never match
  * — the Store-native analog of parquet row-group statistics / Iceberg
  * manifest value ranges. A file without a sidecar (older data, artifact-
  * store members, compaction output written by other flows) is simply
  * never skipped, so pruning is always sound.
  *
  * Scale note (100 TB): sidecars are metadata-sized (one line per integer
  * column), read only on the driver during split planning, and turn a
  * selective key lookup over a range-partitioned store from "open every
  * committed file" into "open the one file whose range covers the key" —
  * the same reason real table formats carry min/max in manifests. */
object KvZoneMap {
  /** Hidden (underscore) AND suffixed `.zm`, so neither Spark/Hadoop
    * listings, the kv source's own walk, nor a `*.csv` glob ever take a
    * sidecar for data. */
  def sidecarName(file: String): String = s"_zm.$file.zm"

  /** One file's committed statistics: exact row count plus per-column
    * [min, max] by type family — integer, double (bounds compared only,
    * never summed — `Double.toString` round-trips exactly), and string
    * (full values, escaped; lexicographic bounds) — plus per-column
    * integer SUMS (`sums`, Long ring arithmetic: wrapping + is
    * associative, so folded partials equal Spark's own non-ANSI sum).
    * Empty col maps for an empty file. */
  final case class Stats(
      rows: Long,
      cols: Map[String, (Long, Long)],
      dcols: Map[String, (Double, Double)] = Map.empty,
      scols: Map[String, (String, String)] = Map.empty,
      sums: Map[String, Long] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      blooms: Map[String, KvBloom.Bloom] = Map.empty) {
    /** Null tracking present? r13 sidecars carry a `#n,col,N` line per
      * column (even 0); older sidecars predate nulls entirely — absent
      * tracking + bounds present ⇒ the no-nulls-era writer wrote it. */
    def nullsTracked: Boolean = nulls.nonEmpty
  }

  /** Write `sf`'s sidecar atomically: fully-written dot-hidden temp,
    * then move ([[KvCommitLog.publish]] orders it before the data). Lines: `#rows,N`, then `col,min,max` per integer column,
    * `#d,col,min,max` per double column, `#s,col,min,max` per string
    * column (name and string bounds percent-escaped). */
  def write(dir: java.nio.file.Path, sf: KvStagedFile): Unit = {
    import sf._
    val tmp = dir.resolve(s".zm-tmp-$name")
    val lines = (s"#rows,$rows" +:
      stats.map { case (c, mn, mx) => s"${KvEscape.escape(c)},$mn,$mx" }) ++
      dstats.map { case (c, mn, mx) => s"#d,${KvEscape.escape(c)},$mn,$mx" } ++
      sstats.map { case (c, mn, mx) =>
        s"#s,${KvEscape.escape(c)},${KvEscape.escape(mn)},${KvEscape.escape(mx)}"
      } ++
      sums.map { case (c, sm) => s"#sum,${KvEscape.escape(c)},$sm" } ++
      // per-column NULL counts (r13 schema evolution: nulls exist) — one
      // line per column, 0 included, so presence == tracking
      nulls.map { case (c, n) => s"#n,${KvEscape.escape(c)},$n" } ++
      // opt-in per-file Bloom filters (point-lookup file skipping where
      // bounds can't prune) — base64 is comma/newline-free, one line each
      blooms.map { case (c, k, m, bits) =>
        s"#bf,${KvEscape.escape(c)},$k,$m,${KvBloom.encode(bits)}"
      }
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(sidecarName(name)),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Parse sidecar lines into Stats — shared by the local file read and
    * the daemon's network STATS reply. None without a `#rows` line. */
  def parseLines(lines: Iterator[String]): Option[Stats] = {
    var rows = -1L
    val cols = Map.newBuilder[String, (Long, Long)]
    val dcols = Map.newBuilder[String, (Double, Double)]
    val scols = Map.newBuilder[String, (String, String)]
    val sums = Map.newBuilder[String, Long]
    val nulls = Map.newBuilder[String, Long]
    val blooms = Map.newBuilder[String, KvBloom.Bloom]
    lines.filter(_.nonEmpty).foreach {
      case line if line.startsWith("#rows,") =>
        rows = line.stripPrefix("#rows,").toLong
      case line if line.startsWith("#bf,") =>
        val Array(_, c, k, m, b64) = line.split(",", 5)
        blooms += KvEscape.unescape(c) ->
          KvBloom.decode(k.toInt, m.toInt, b64)
      case line if line.startsWith("#n,") =>
        val Array(_, c, n) = line.split(",", 3)
        nulls += KvEscape.unescape(c) -> n.toLong
      case line if line.startsWith("#d,") =>
        val Array(_, c, mn, mx) = line.split(",", 4)
        dcols += KvEscape.unescape(c) -> ((mn.toDouble, mx.toDouble))
      case line if line.startsWith("#s,") =>
        val Array(_, c, mn, mx) = line.split(",", 4)
        scols += KvEscape.unescape(c) ->
          ((KvEscape.unescape(mn), KvEscape.unescape(mx)))
      case line if line.startsWith("#sum,") =>
        val Array(_, c, sm) = line.split(",", 3)
        sums += KvEscape.unescape(c) -> sm.toLong
      case line =>
        val Array(c, mn, mx) = line.split(",", 3)
        cols += KvEscape.unescape(c) -> ((mn.toLong, mx.toLong))
    }
    if (rows < 0) None
    else Some(Stats(rows, cols.result(), dcols.result(), scols.result(),
      sums.result(), nulls.result(), blooms.result()))
  }

  /** Read a data file's sidecar; None when absent (never prune or answer
    * aggregates without stats). */
  def read(dataFile: java.io.File): Option[Stats] = {
    val side = new java.io.File(dataFile.getParentFile, sidecarName(dataFile.getName))
    if (!side.isFile) None
    else KvMetaCache.cached(side.toPath) { p =>
      // sidecars are immutable once published (write-then-move, unique
      // data-file names) — parsed once per identity, stat-validated after
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try parseLines(src.getLines()) finally src.close()
    }
  }
}

/** One store file's zone-map statistics, accumulated value by value —
  * the one accumulator behind every sidecar, fed by the sink's task
  * writer ([[KvDataWriter]]) and the copy-on-write rewrite
  * ([[KvStore]]) through the typed per-column adders. Per family:
  *  - integer columns: [min, max] and the sum in Long ring arithmetic
  *    (wrapping + is associative, so per-file partials fold to exactly
  *    what Spark's own non-ANSI sum produces); a sum that OVERFLOWS is
  *    withheld from the sidecar, and readers then parse the file, which
  *    is always sound;
  *  - double columns: [min, max] with -0.0 normalized to 0.0 (Spark
  *    comparison semantics equate them); a NaN makes the bounds
  *    meaningless under Spark's NaN equality, so that column publishes
  *    none;
  *  - string columns: [min, max] in code-point order (= Spark's
  *    UTF8String order), NOT Java compareTo;
  *  - every column: its null count (`#n` lines keep count(col)
  *    stats-answered once schema evolution makes nulls real);
  *  - `bloomCols` (integer or string): the distinct value hashes, in a
  *    [[KvBloom.HashAcc]] so memory is ∝ distincts, with the filter
  *    dropped past [[KvBloom.MaxTrackedDistinct]] where it could not
  *    prune anyway.
  * Nulls are counted and excluded from bounds, sums and blooms. The
  * adders allocate nothing. */
final class KvZoneAcc(schema: StructType, bloomCols: Seq[String]) {
  private val n = schema.length
  private val mins = Array.fill(n)(Long.MaxValue)
  private val maxs = Array.fill(n)(Long.MinValue)
  private val sums = new Array[Long](n)
  private val sumBad = new Array[Boolean](n)
  private val dMins = Array.fill(n)(Double.MaxValue)
  private val dMaxs = Array.fill(n)(Double.MinValue)
  private val dNaN = new Array[Boolean](n)
  private val sMins = new Array[String](n)
  private val sMaxs = new Array[String](n)
  private val nulls = new Array[Long](n)
  private val bloomIdx: Array[Int] = bloomCols.map { c =>
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"graft kv sink: bloomColumns column '$c' not in schema")
    i
  }.toArray
  private val hashes = new Array[KvBloom.HashAcc](n)
  bloomIdx.foreach(i => hashes(i) = new KvBloom.HashAcc)
  private var rows = 0L

  def row(): Unit = rows += 1
  def nullAt(c: Int): Unit = nulls(c) += 1

  /** An integer (INT or BIGINT) value of column `c`. */
  def long(c: Int, v: Long): Unit = {
    if (v < mins(c)) mins(c) = v
    if (v > maxs(c)) maxs(c) = v
    if (!sumBad(c)) {
      try sums(c) = Math.addExact(sums(c), v)
      catch { case _: ArithmeticException => sumBad(c) = true }
    }
    if (hashes(c) != null) hashes(c).add(KvBloom.hashLong(v))
  }

  def double(c: Int, raw: Double): Unit = {
    val v = if (raw == 0.0) 0.0 else raw
    if (java.lang.Double.isNaN(v)) dNaN(c) = true
    else {
      if (v < dMins(c)) dMins(c) = v
      if (v > dMaxs(c)) dMaxs(c) = v
    }
  }

  def string(c: Int, v: String): Unit = {
    if (sMins(c) == null || KvEscape.cpCompare(v, sMins(c)) < 0) sMins(c) = v
    if (sMaxs(c) == null || KvEscape.cpCompare(v, sMaxs(c)) > 0) sMaxs(c) = v
    if (hashes(c) != null) hashes(c).add(KvBloom.hashString(v))
  }

  // a column outside a family never leaves that family's initial empty
  // range, so the bounds need no type test
  private def intBounds(c: Int) =
    if (mins(c) <= maxs(c)) Some((mins(c), maxs(c))) else None
  private def dblBounds(c: Int) =
    if (dMins(c) <= dMaxs(c)) Some((dMins(c), dMaxs(c))) else None
  private def strBounds(c: Int) =
    if (sMins(c) != null) Some((sMins(c), sMaxs(c))) else None

  /** The write-time constraint gate's evidence for `k` — the statistics
    * already kept for the sidecar, so enforcement costs nothing per row. */
  def violation(k: KvConstraint): Option[String] = {
    val c = schema.fieldNames.indexOf(k.col)
    KvConstraint.violation(k, schema, nulls(c), intBounds(c), dblBounds(c),
      dNaN(c), strBounds(c))
  }

  /** The staged file's statistics. Bounds and sums publish only for
    * columns with >=1 non-null value (an all-null column has no bounds;
    * its absence plus the `#n` line is what the stats-answered aggregates
    * fold on), blooms likewise and only under the distinct ceiling. */
  def finish(stagedFile: String): KvStagedFile = {
    val cs = 0 until n
    def name(c: Int) = schema.fields(c).name
    if (rows == 0L) return KvStagedFile(stagedFile, 0L, Nil)
    KvStagedFile(stagedFile, rows,
      cs.flatMap(c => intBounds(c).map { case (mn, mx) => (name(c), mn, mx) }),
      cs.filterNot(dNaN(_)).flatMap(c =>
        dblBounds(c).map { case (mn, mx) => (name(c), mn, mx) }),
      cs.flatMap(c => strBounds(c).map { case (mn, mx) => (name(c), mn, mx) }),
      cs.filter(c => intBounds(c).isDefined && !sumBad(c))
        .map(c => (name(c), sums(c))),
      cs.map(c => (name(c), nulls(c))),
      bloomIdx.toSeq.filter(c => !hashes(c).isEmpty && !hashes(c).overflowed)
        .map { c =>
          val b = KvBloom.build(hashes(c).toArray)
          (name(c), b.k, b.m, b.bits)
        })
  }
}

/** The Store's COMMIT LOG — a Delta/Iceberg-style transaction log in
  * miniature: every successful [[publish]] appends a hidden manifest
  * `_commit-N` naming exactly the files it published, so the
  * directory carries its own write history. Readers that pass
  * `asOfCommit=N` to [[KvSourceProvider]] plan splits from the manifests
  * with version ≤ N — SNAPSHOT TIME TRAVEL over the same committed
  * files, no copies. Manifests are underscore-hidden, so every existing
  * listing-based consumer (the source's default latest view, the net
  * daemon, compaction) is unaffected.
  *
  * Manifest writes are atomic AND no-clobber (a fully-written dot-hidden
  * temp published via hard link, which FAILS on an existing target
  * instead of replacing it), and versions are dense from 1. That makes
  * the log safe under CONCURRENT WRITERS — the Delta/Iceberg optimistic-
  * concurrency discipline: a lost race is an explicit conflict the
  * committer handles (bump-and-retry for this sink's union-semantics
  * delta manifests, content rebase or abort for the artifact stores'
  * snapshot manifests via [[commitMember]]), never a silently
  * overwritten commit. At 100 TB this is metadata-sized state: one
  * small file per commit, read only at plan time. */
/** Driver-side cache of IMMUTABLE store metadata files (commit-log
  * manifests, checkpoints, zone-map sidecars). Both are created exactly
  * once (atomic create-if-absent link / write-then-move) and never
  * modified, so their content can be cached by path — but a path CAN be
  * reused after a DROP TABLE + CREATE of the same name, so every hit is
  * validated against the file's (fileKey, size, mtime) identity: one
  * stat instead of one open+read+parse. The r12 verdict measured the
  * cost this removes — streaming serve gates re-reading the full log
  * (and every sidecar) on EVERY micro-batch, a per-batch fixed cost that
  * grew 1.5-1.9× with the r12 commit-log machinery. Scale note: this is
  * driver-side planning metadata (manifests are KB-sized); the cap
  * bounds memory, LRU keeps the hot stores resident. */
private[graft] object KvMetaCache {
  import java.nio.file.attribute.BasicFileAttributes

  private final case class Entry(key: AnyRef, size: Long, mtime: Long,
      value: AnyRef)

  private val cache = new graft.core.LruMap[String, Entry](16384)

  /** `read(p)` parsed once per distinct file identity; re-validated by
    * stat on every access. Throws whatever `read` throws on a miss. */
  def cached[T <: AnyRef](p: java.nio.file.Path)(read: java.nio.file.Path => T): T = {
    val k = p.toAbsolutePath.toString
    val attrs = Files.readAttributes(p, classOf[BasicFileAttributes])
    val id = (attrs.fileKey(), attrs.size(), attrs.lastModifiedTime().toMillis)
    cache.get(k) match {
      case Some(hit) if (hit.key, hit.size, hit.mtime) == id =>
        hit.value.asInstanceOf[T]
      case _ =>
        val v = read(p)
        cache.put(k, Entry(id._1, id._2, id._3, v))
        v
    }
  }
}

object KvCommitLog {
  private val ManifestName = "_commit-(\\d+)".r
  private val CheckpointName = "_checkpoint-(\\d+)".r

  /** All non-empty lines of one committed manifest/checkpoint, through
    * the immutable-metadata cache — a stat per access, not a read. */
  private[graft] def linesOf(p: java.nio.file.Path): Seq[String] =
    KvMetaCache.cached(p)(q =>
      Files.readAllLines(q).asScala.filter(_.nonEmpty).toSeq)

  /** Manifest line grammar (each manifest, one entry per line):
    *   - `name`        — file PUBLISHED (added to the live set) by this commit
    *   - `-name`       — file REMOVED from the live set by this commit (the
    *                     file stays on disk so time travel below this version
    *                     keeps working; [[vacuumDelta]] reclaims it)
    *   - `#txn,<id>`   — idempotency marker: a writer-supplied transaction
    *                     id (e.g. a streaming batchId) recorded with the
    *                     commit, so an at-least-once REPLAY of the same txn
    *                     can detect it already committed and no-op
    *   - `#dv,<data>,<dv>` — DELETION VECTOR attach (r14, [[KvDv]]): vector
    *                     file `<dv>` marks rows of live file `<data>` as
    *                     deleted from this version on; a later `-<data>`
    *                     drops the attachment with the file
    * Removal and txn lines are r12 extensions, dv lines r14; pre-existing
    * manifests are pure add lists and fold identically under the new
    * reader. Every `#`-prefixed line is control, never a member name. */
  private def isTxnLine(l: String): Boolean = l.startsWith("#txn,")
  private def isRemoveLine(l: String): Boolean = l.startsWith("-")
  private def isDvLine(l: String): Boolean = l.startsWith("#dv,")
  private def isCtlLine(l: String): Boolean = l.startsWith("#")
  private def parseDvLine(l: String): (String, String) = {
    val body = l.stripPrefix("#dv,")
    val i = body.indexOf(',')
    require(i > 0 && i < body.length - 1,
      s"graft commit log: malformed dv line '$l'")
    (body.substring(0, i), body.substring(i + 1))
  }

  /** Published/removed entry names may not collide with the line grammar
    * or the hidden-path discipline. */
  private def checkName(n: String): String = {
    require(n.nonEmpty && !n.startsWith("-") && !n.startsWith("#") &&
      !n.startsWith("_") && !n.startsWith("."),
      s"graft commit log: illegal entry name '$n'")
    n
  }

  /** (version, manifestPath) pairs present in `dir`, ascending. */
  def versions(dir: java.nio.file.Path): Seq[(Int, java.nio.file.Path)] = {
    val d = dir.toFile
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(f => f.getName match {
        case ManifestName(v) => Some((v.toInt, f.toPath))
        case _ => None
      })
      .sortBy(_._1)
  }

  /** (version, checkpointPath) pairs, ascending. A checkpoint at V holds
    * the full live file set AFTER manifest V applied — the fold base that
    * lets [[vacuumDelta]] drop manifests ≤ V without breaking
    * [[filesAsOf]] for versions ≥ V (the Delta checkpoint discipline in
    * miniature). */
  def checkpoints(dir: java.nio.file.Path): Seq[(Int, java.nio.file.Path)] = {
    val d = dir.toFile
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap(f => f.getName match {
        case CheckpointName(v) => Some((v.toInt, f.toPath))
        case _ => None
      })
      .sortBy(_._1)
  }

  /** Latest committed version, 0 when the log is empty. Checkpoints count:
    * a fully-vacuumed log (all manifests folded into one checkpoint) still
    * knows its head version. */
  def latestVersion(dir: java.nio.file.Path): Int =
    math.max(
      versions(dir).lastOption.map(_._1).getOrElse(0),
      checkpoints(dir).lastOption.map(_._1).getOrElse(0))

  /** Attempt to publish `published` as EXACTLY `version`. The manifest
    * body is fully written to a dot-hidden temp (invisible to
    * [[versions]]) and published with `Files.createLink` — an atomic
    * create-if-absent, so when two writers race the same version
    * exactly one wins and the loser gets `false`, never a replaced
    * manifest. The temp name carries a writer nonce so racing writers
    * cannot clobber each other's staging either. */
  def tryAppendAt(dir: java.nio.file.Path, version: Int,
      published: Seq[String]): Boolean = {
    val tmp = dir.resolve(
      s"._commit-$version-${System.nanoTime}-${Thread.currentThread.getId}.tmp")
    Files.write(tmp, published.sorted.mkString("\n").getBytes("UTF-8"))
    try {
      Files.createLink(dir.resolve(s"_commit-$version"), tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        false
    }
  }

  /** Record one commit's published (and optionally removed) file names as
    * the next free version and return it: a [[publish]] of names already
    * in place, with no base. Lost races bump and retry, which is EXACT
    * for this log's delta semantics — each manifest names only its own
    * adds/removes and commit order commutes (adds and removes in
    * concurrent manifests touch disjoint files by construction: a writer
    * only removes files it read from a committed snapshot, see KvStore).
    * Snapshot-style manifests (full member lists) must NOT use this
    * blind retry: they rebase or abort through [[commitMember]].
    *
    * `txn`: an idempotency id recorded as a `#txn,` line; when the SAME id
    * is already in the log the commit is a NO-OP returning 0 — an
    * at-least-once replay publishes nothing twice ([[txnCommitted]]). */
  def append(dir: java.nio.file.Path, published: Seq[String],
      removed: Seq[String] = Nil, txn: Option[String] = None): Int =
    publish(dir, None, published.map(KvPresent(_)), removed, txn = txn)

  /** A fresh per-write nonce for staged and published file names: task
    * and partition ids repeat across SparkContexts, and a later write
    * must never clobber a file an earlier version still names. */
  private[sources] def nonce(): String = java.lang.Long.toUnsignedString(
    java.util.concurrent.ThreadLocalRandom.current().nextLong(), 36)

  /** THE publish of every KV store data write — the sink's batch write
    * (appends, overwrites, SQL row-level rewrites) and every [[KvStore]]
    * verb. One commit's `members` move into `dir` first, each SIDECAR
    * BEFORE ITS DATA FILE (a visible file always has its stats:
    * [[KvStagedFile]]s get theirs written from their stats, [[KvAdopted]]
    * files bring theirs), then one manifest names them with the
    * `removes`, the deletion-vector `attach`ments to files already in
    * place (plus one per [[KvStagedDv]]) and the `txn` marker.
    *
    * `base` selects the conflict policy:
    *   - `Some(b)` — the commit was DERIVED from the snapshot at `b` (its
    *     removes, vectors or rewrites were read there), so it lands at
    *     exactly `b + 1`. A concurrent commit that won that slot makes
    *     this one throw, after everything it moved in is deleted again
    *     (no manifest names those files, so no reader saw them) — the
    *     caller re-runs against the new head. A commit that changes
    *     nothing publishes no manifest and returns `b` (a store that does
    *     not exist yet still gets its first version).
    *   - `None` — a blind delta append: it takes the next free version
    *     and bumps and retries on a lost race ([[append]]).
    *
    * Every line is checked against the manifest grammar, and every vector
    * must attach to a file live once this commit's removes and adds
    * apply. With a `txn` the log already holds, nothing is published and
    * nothing stays moved in; the result is 0. Otherwise the result is
    * the committed version. */
  def publish(dir: java.nio.file.Path, base: Option[Int],
      members: Seq[KvMember], removes: Seq[String] = Nil,
      attach: Seq[(String, String)] = Nil,
      txn: Option[String] = None): Int = {
    val adds = members.collect {
      case sf: KvStagedFile => sf.name
      case KvAdopted(from) => from.getFileName.toString
      case KvPresent(name) => name
    }
    val dvs = attach ++ members.collect {
      case KvStagedDv(data, from) => (data, from.getFileName.toString)
    }
    adds.foreach(checkName)
    removes.foreach(checkName)
    txn.foreach(t => require(!t.contains("\n") && !t.contains("\r"),
      s"graft commit log: illegal txn id '$t'"))
    if (dvs.nonEmpty) {
      val at = base.getOrElse(latestVersion(dir))
      val live = filesAsOf(dir, at) -- removes ++ adds
      dvs.foreach { case (data, vec) =>
        checkName(data); checkName(vec)
        require(!data.contains(",") && !vec.contains(","),
          s"graft commit log: dv entry names may not contain ',' ($data, $vec)")
        require(live(data),
          s"graft commit log: cannot attach dv to $data — not live at $at")
      }
    }
    val lines = txn.map(t => s"#txn,$t").toSeq ++ removes.map("-" + _) ++
      adds ++ dvs.map { case (data, vec) => s"#dv,$data,$vec" }
    if (lines.isEmpty && base.exists(_ > 0)) return base.get
    if (txn.exists(txnCommitted(dir, _))) return 0
    val moved = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def moveIn(from: java.nio.file.Path): Unit = {
      val to = dir.resolve(from.getFileName)
      Files.move(from, to, StandardCopyOption.REPLACE_EXISTING)
      moved += to
    }
    def rollback(): Unit =
      moved.reverseIterator.foreach(p => Files.deleteIfExists(p): Unit)
    try members.foreach {
      case sf: KvStagedFile =>
        KvZoneMap.write(dir, sf)
        moved += dir.resolve(KvZoneMap.sidecarName(sf.name))
        moveIn(Paths.get(sf.stagedFile))
      case KvAdopted(from) =>
        moveIn(from.resolveSibling(
          KvZoneMap.sidecarName(from.getFileName.toString)))
        moveIn(from)
      case KvStagedDv(_, from) => moveIn(from)
      case KvPresent(_) => ()
    } catch { case e: Throwable => rollback(); throw e }
    base match {
      case Some(b) =>
        if (tryAppendAt(dir, b + 1, lines)) b + 1
        else {
          rollback()
          throw new IllegalStateException(
            s"concurrent commit at $dir superseded the version-$b snapshot " +
              "this commit was derived from; what it staged was rolled " +
              "back — re-run against the new head")
        }
      case None =>
        var v = latestVersion(dir) + 1
        while (!tryAppendAt(dir, v, lines)) {
          // a lost race may have been our own txn's earlier (crashed-after-
          // publish) attempt or a concurrent replica — re-check first
          if (txn.exists(txnCommitted(dir, _))) { rollback(); return 0 }
          v = math.max(v + 1, latestVersion(dir) + 1)
        }
        v
    }
  }

  /** Has a commit carrying `#txn,<txn>` already been published? One
    * plan-time metadata pass over the (small) manifests — plus the
    * checkpoints, which carry forward the txn markers of manifests
    * [[vacuumDelta]] folded away (else a post-vacuum replay of an old
    * streaming batch would publish twice). */
  def txnCommitted(dir: java.nio.file.Path, txn: String): Boolean = {
    val marker = s"#txn,$txn"
    // torn-listing retry (the stateAsOf discipline): a concurrent vacuum
    // may delete a listed manifest after folding its markers into a
    // checkpoint — re-list and the checkpoint answers
    var torn: Throwable = null
    for (_ <- 0 until 5) {
      try return (versions(dir) ++ checkpoints(dir)).exists { case (_, p) =>
        linesOf(p).contains(marker)
      } catch {
        case e: java.nio.file.NoSuchFileException => torn = e
        case e: java.io.FileNotFoundException => torn = e
      }
    }
    throw new IllegalStateException(
      s"graft commit log: metadata at $dir kept vanishing mid-scan " +
        "(concurrent vacuum churn) after 5 attempts", torn)
  }

  /** The files ADDED by manifests in `(after, until]` — the streaming
    * source's DELTA read ([[graft.sources.KvMicroBatchStream]]): each
    * committed version is an offset, its add lines are the micro-batch.
    * Remove-carrying commits (overwrite / row-level delete / merge /
    * compaction) are not append batches: they THROW by default — a
    * changed row silently re-emitted or skipped is corrupted streaming
    * semantics — or are skipped whole with `skipChangeCommits` (the
    * Delta `skipChangeCommits` contract). A manifest missing inside the
    * range means vacuum reclaimed history the stream still needs. */
  def addsBetween(dir: java.nio.file.Path, after: Int, until: Int,
      skipChangeCommits: Boolean = false): Seq[String] = {
    if (until <= after) return Nil
    val byV = versions(dir).toMap
    ((after + 1) to until).flatMap { v =>
      byV.get(v) match {
        case None => throw new IllegalStateException(
          s"graft commit log: manifest $v at $dir was vacuumed — a " +
            "streaming read cannot replay it; keep vacuum above the " +
            "stream's replayable horizon")
        case Some(p) =>
          val lines = linesOf(p)
          // a dv attachment is a change commit too: rows disappeared
          if (lines.exists(l => isRemoveLine(l) || isDvLine(l))) {
            if (skipChangeCommits) Nil
            else throw new IllegalStateException(
              s"graft commit log: version $v at $dir is not append-only " +
                "(overwrite/delete/merge/compaction/deletion-vector); " +
                "streaming reads consume appends — set " +
                "skipChangeCommits=true to skip change commits")
          } else lines.filterNot(isCtlLine)
      }
    }
  }

  /** Per-version CHANGE SETS for `(after, until]` — the change-data-feed
    * planning primitive: each element is (version, adds, removes,
    * dv-attachments) exactly as the manifest recorded them. Same replay
    * discipline as [[addsBetween]]: a vacuumed manifest in the range is
    * an explicit error (vacuum must stay above any change-feed reader's
    * horizon) — removed DATA files below the range are still
    * reclaimable, this only pins the manifests. */
  def changesBetween(dir: java.nio.file.Path, after: Int,
      until: Int): Seq[(Int, Seq[String], Seq[String], Seq[(String, String)])] = {
    if (until <= after) return Nil
    // out-of-range is a caller error, not a vacuum condition — without
    // this check a changesTo above the latest commit surfaced as a
    // misleading "was vacuumed" (r13 advice)
    val latest = latestVersion(dir)
    if (until > latest) throw new IllegalArgumentException(
      s"graft commit log: change-feed range ($after, $until] exceeds the " +
        s"latest committed version $latest at $dir")
    val byV = versions(dir).toMap
    ((after + 1) to until).map { v =>
      byV.get(v) match {
        case None => throw new IllegalStateException(
          s"graft commit log: manifest $v at $dir was vacuumed — a " +
            "change-feed read cannot replay it; keep vacuum above the " +
            "feed's replayable horizon")
        case Some(p) =>
          val lines = linesOf(p).filterNot(isTxnLine)
          val (dvLines, rest) = lines.partition(isDvLine)
          val (removes, adds) = rest.partition(isRemoveLine)
          (v, adds, removes.map(_.stripPrefix("-")), dvLines.map(parseDvLine))
      }
    }
  }

  /** OCC commit for the artifact stores' SNAPSHOT manifests: the member
    * was fully staged under `stagedName` (a dot-hidden name no reader or
    * vacuum can see); this claims a committed member name with an atomic
    * no-clobber rename, then publishes `manifestOf(v, name)` with the
    * atomic no-clobber [[tryAppendAt]] — so every interleaving with a
    * concurrent committer is an explicit outcome, never a silently
    * overwritten commit or a shared staging directory.
    *
    * `expectedBase` selects the conflict policy:
    *
    *   - `None` (REBASE — delta appends, full rebuilds): a lost manifest
    *     race re-invokes `manifestOf` at the next free version, and the
    *     function re-reads the winner's committed state — that is how a
    *     delta append folds a concurrent delta's members into its own
    *     manifest instead of dropping them. A taken member name (an
    *     in-flight or crashed claimant) just bumps the name counter: the
    *     manifest is the authority on membership, the versioned names
    *     are a convention, so name and version may drift past an orphan.
    *   - `Some(base)` (CAS — compaction, whose staged member is DERIVED
    *     from the snapshot at `base`): publish exactly at `base + 1`;
    *     any conflict (member name taken, or the manifest slot won by
    *     someone else) throws, and the caller re-runs against the new
    *     snapshot. Before it throws, the loser deletes the directory it
    *     staged or claimed: no manifest names it, and under a claimed
    *     `gen-N` name it would otherwise look committed while `vacuum`
    *     (which reclaims only names dropped manifests referenced) never
    *     reclaims it.
    *
    * Returns the committed version. */
  def commitMember(dir: java.nio.file.Path, stagedName: String,
      nameOf: Int => String, manifestOf: (Int, String) => Seq[String],
      expectedBase: Option[Int] = None): Int = {
    def conflict(what: String, held: String): Nothing = {
      rmTree(dir.resolve(held).toFile)
      throw new IllegalStateException(
        s"concurrent commit at $dir superseded the version-" +
          s"${expectedBase.getOrElse(-1)} snapshot this member was " +
          s"derived from ($what); staged member removed — " +
          "re-run the operation against the new head")
    }
    // claim a committed member name (atomic no-clobber rename)
    var n = expectedBase.map(_ + 1).getOrElse(latestVersion(dir) + 1)
    var name = stagedName
    while (name == stagedName) {
      try {
        Files.move(dir.resolve(stagedName), dir.resolve(nameOf(n)))
        name = nameOf(n)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (expectedBase.isDefined)
            conflict(s"member name ${nameOf(n)} already claimed", stagedName)
          n += 1
      }
    }
    // publish the manifest at the next free version (exactly base+1
    // under CAS), recomputing the content after every lost race
    var v = expectedBase.map(_ + 1).getOrElse(latestVersion(dir) + 1)
    while (true) {
      if (tryAppendAt(dir, v, manifestOf(v, name))) return v
      if (expectedBase.isDefined) conflict(s"version $v already committed", name)
      v = math.max(v + 1, latestVersion(dir) + 1)
    }
    throw new IllegalStateException("unreachable")
  }

  /** The LIVE file set at version `asOf`: the newest checkpoint ≤ asOf
    * (empty set at version 0 when none) with manifests (checkpoint, asOf]
    * folded on top in version order — adds insert, `-name` removes, txn
    * markers are skipped. For pre-r12 logs (pure add lines, no
    * checkpoints) this is exactly the old all-manifests union. Throws when
    * the needed history was vacuumed away (manifests missing below the
    * oldest checkpoint). */
  def filesAsOf(dir: java.nio.file.Path, asOf: Int): Set[String] =
    stateAsOf(dir, asOf)._1

  /** Deletion-vector attachments live at version `asOf`: data file →
    * vector files, in attach order ([[KvDv]]). */
  def dvsAsOf(dir: java.nio.file.Path, asOf: Int): Map[String, Seq[String]] =
    stateAsOf(dir, asOf)._2

  /** The full live STATE at version `asOf`: (live file set, deletion-
    * vector attachments). Checkpoints carry both (`#dv,` lines alongside
    * live names and forwarded `#txn,` markers); manifests fold on top in
    * version order — adds insert, `-name` removes the file AND its
    * vectors, `#dv,data,vec` attaches.
    *
    * TORN-LISTING RETRY: a concurrent [[vacuumDelta]] publishes its
    * checkpoint durably BEFORE deleting the manifests it folds, so a
    * reader that listed the old manifests and then lost one to the
    * delete can simply re-list — the new checkpoint now covers the
    * missing range. The fold retries a bounded number of times instead
    * of surfacing a spurious NoSuchFileException (found by the
    * StoreSoakSpec 8-verb schedule). */
  def stateAsOf(dir: java.nio.file.Path, asOf: Int)
      : (Set[String], Map[String, Seq[String]]) = {
    var torn: Throwable = null
    for (_ <- 0 until 5) {
      try return stateAsOfOnce(dir, asOf)
      catch {
        case e: java.nio.file.NoSuchFileException => torn = e
        case e: java.io.FileNotFoundException => torn = e
      }
    }
    throw new IllegalStateException(
      s"graft commit log: metadata at $dir kept vanishing mid-fold " +
        "(concurrent vacuum churn) after 5 attempts", torn)
  }

  private def stateAsOfOnce(dir: java.nio.file.Path, asOf: Int)
      : (Set[String], Map[String, Seq[String]]) = {
    val base = checkpoints(dir).takeWhile(_._1 <= asOf).lastOption
    val baseV = base.map(_._1).getOrElse(0)
    val live = scala.collection.mutable.Set.empty[String]
    val dvs = scala.collection.mutable.Map.empty[String, Seq[String]]
    // within one manifest/checkpoint, member lines fold BEFORE `#dv`
    // attach lines regardless of their lexical order (a checkpoint's
    // sorted body puts '#dv' first; attachments always reference the
    // version's post-membership state)
    def fold(lines: Seq[String]): Unit = {
      val (dvLines, rest) = lines.partition(isDvLine)
      rest.foreach { l =>
        if (isCtlLine(l)) ()
        else if (isRemoveLine(l)) { live -= l.substring(1); dvs -= l.substring(1) }
        else { live += l; dvs -= l }
      }
      dvLines.foreach { l =>
        val (data, vec) = parseDvLine(l)
        dvs.updateWith(data)(cur => Some(cur.getOrElse(Seq.empty) :+ vec)): Unit
      }
    }
    base.foreach { case (_, p) => fold(linesOf(p)) }
    val ms = versions(dir).filter { case (v, _) => v > baseV && v <= asOf }
    // the fold needs contiguous history from the base: a gap means the
    // versions below were vacuumed (their checkpoint is above asOf)
    ms.headOption.foreach { case (v0, _) =>
      require(v0 == baseV + 1,
        s"graft commit log: history below version $v0 at $dir was vacuumed " +
          s"— snapshot $asOf is no longer reconstructible")
    }
    if (ms.isEmpty && asOf > 0 && base.isEmpty && latestVersion(dir) > 0)
      throw new IllegalStateException(
        s"graft commit log: history at or below version $asOf at $dir was " +
          "vacuumed — snapshot no longer reconstructible")
    ms.foreach { case (_, p) => fold(linesOf(p)) }
    (live.toSet, dvs.toMap)
  }

  /** The latest live view — what a reader without `asOfCommit` plans. */
  def liveFiles(dir: java.nio.file.Path): Set[String] =
    filesAsOf(dir, latestVersion(dir))

  /** Write the checkpoint at `version` (atomic no-clobber, like
    * manifests); `live` must be the exact live set after manifest
    * `version` applied, and `txns` the idempotency markers of every
    * manifest ≤ `version` the checkpoint may replace — carried forward
    * as `#txn,` lines so [[txnCommitted]] still answers after the
    * manifests are vacuumed. False when that checkpoint already exists. */
  def writeCheckpoint(dir: java.nio.file.Path, version: Int,
      live: Set[String], txns: Seq[String] = Nil,
      dvs: Map[String, Seq[String]] = Map.empty): Boolean = {
    live.foreach(checkName)
    val tmp = dir.resolve(
      s"._checkpoint-$version-${System.nanoTime}-${Thread.currentThread.getId}.tmp")
    val dvLines = dvs.toSeq.flatMap { case (d, vs) =>
      require(live(d),
        s"graft commit log: checkpoint dv attachment for non-live file $d")
      vs.map(v => s"#dv,$d,$v")
    }.sorted
    val lines = txns.distinct.sorted.map(t => s"#txn,$t") ++ dvLines ++
      live.toSeq.sorted
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    try {
      Files.createLink(dir.resolve(s"_checkpoint-$version"), tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        false
    }
  }

  /** Publish a checkpoint at the CURRENT head: the live set plus every
    * txn marker committed so far, so [[filesAsOf]] folds from here and a
    * later [[vacuumDelta]] can drop the manifests below without losing
    * idempotency history. Idempotent (no-clobber). Returns the head
    * version the checkpoint covers. */
  def checkpointNow(dir: java.nio.file.Path): Int = {
    val v = latestVersion(dir)
    require(v > 0, s"no commit log at $dir — nothing to checkpoint")
    val txns = (versions(dir).map(_._2) ++ checkpoints(dir).map(_._2))
      .flatMap(p => linesOf(p).filter(isTxnLine))
      .map(_.stripPrefix("#txn,"))
    val (live, dvs) = stateAsOf(dir, v)
    writeCheckpoint(dir, v, live, txns, dvs): Unit
    v
  }

  /** VACUUM for ADD/REMOVE delta logs (the KV data store; snapshot-
    * manifest artifact stores keep using [[vacuum]]): reclaim every data
    * file no snapshot ≥ `keepFrom` can reach, then fold the dropped
    * history into a checkpoint at `keepFrom` and delete the manifests it
    * replaces. Time travel within [keepFrom, latest] is untouched;
    * versions below now throw from [[filesAsOf]] instead of returning
    * wrong (file-less) answers. Returns the deleted entry names. */
  def vacuumDelta(dir: java.nio.file.Path, keepFrom: Int): Seq[String] = {
    val latest = latestVersion(dir)
    require(latest > 0, s"no commit log at $dir — nothing to vacuum")
    require(keepFrom >= 1 && keepFrom <= latest,
      s"vacuum keepFrom $keepFrom out of committed range [1, $latest] at $dir")
    // READ PHASE, snapshotted atomically with the same torn-listing
    // retry as stateAsOf: a concurrent vacuum may delete a listed
    // manifest mid-fold (its checkpoint already covers it) — re-list
    // rather than surface NoSuchFileException; downstream folds then
    // work on plain data
    var readSnap: (Set[String], Map[String, Seq[String]],
      Seq[(Int, Seq[String])], Seq[(Int, Seq[String])]) = null
    var torn: Throwable = null
    var attempt = 0
    while (readSnap == null && attempt < 5) {
      attempt += 1
      try {
        val st = stateAsOf(dir, keepFrom)
        val msLines = versions(dir).map { case (v, p) => (v, linesOf(p)) }
        val ckLines = checkpoints(dir).map { case (v, p) => (v, linesOf(p)) }
        readSnap = (st._1, st._2, msLines, ckLines)
      } catch {
        case e: java.nio.file.NoSuchFileException => torn = e
        case e: java.io.FileNotFoundException => torn = e
      }
    }
    if (readSnap == null) throw new IllegalStateException(
      s"graft commit log: metadata at $dir kept vanishing mid-vacuum " +
        "(concurrent vacuum churn) after 5 attempts", torn)
    val (liveAtKeep, dvsAtKeep, msLines, ckLines) = readSnap
    def addsIn(sel: Int => Boolean): Set[String] =
      msLines.filter(m => sel(m._1)).flatMap { case (_, lines) =>
        lines.filter(l => !isCtlLine(l) && !isRemoveLine(l))
      }.toSet
    // reachable from any retained snapshot = live at keepFrom, plus
    // everything added after it (still live at its own add version)
    val reachable = liveAtKeep ++ addsIn(_ > keepFrom)
    // deletion vectors are reachable while their attachment is — live at
    // keepFrom, or attached by a retained manifest (whose asOf snapshots
    // still subtract them); all others are unreferenced history
    def dvNames(ls: Seq[Seq[String]]): Set[String] =
      ls.flatMap(_.filter(isDvLine).map(l => parseDvLine(l)._2)).toSet
    val reachableDvs = dvsAtKeep.values.flatten.toSet ++
      dvNames(msLines.filter(_._1 > keepFrom).map(_._2))
    val allDvs = dvNames(msLines.map(_._2) ++ ckLines.map(_._2))
    val doomedDvs = (allDvs -- reachableDvs).toSeq.sorted
    val doomed = (addsIn(_ => true) -- reachable).toSeq.sorted ++ doomedDvs
    doomed.foreach { n =>
      rmTree(dir.resolve(n).toFile)
      Files.deleteIfExists(dir.resolve(KvZoneMap.sidecarName(n))): Unit
    }
    // checkpoint replaces the manifests it folds; only after it is
    // durably published do the superseded manifests (and any older
    // checkpoints) go away. Txn idempotency markers in the folded
    // history (manifests ≤ keepFrom and already-folded markers in the
    // checkpoints being replaced) are carried into the new checkpoint —
    // else a streaming batch replayed after the vacuum would pass
    // txnCommitted and publish a second time.
    val txns = (msLines.filter(_._1 <= keepFrom).map(_._2) ++
        ckLines.filter(_._1 < keepFrom).map(_._2))
      .flatMap(_.filter(isTxnLine))
      .map(_.stripPrefix("#txn,"))
    writeCheckpoint(dir, keepFrom, liveAtKeep, txns, dvsAtKeep): Unit
    versions(dir).filter(_._1 <= keepFrom).foreach { case (_, p) =>
      Files.deleteIfExists(p): Unit
    }
    checkpoints(dir).filter(_._1 < keepFrom).foreach { case (_, p) =>
      Files.deleteIfExists(p): Unit
    }
    doomed
  }

  /** VACUUM the log: drop every manifest below `keepFrom` and delete the
    * store entries (member directories or files) that only those dropped
    * manifests referenced. Retention is reference-based, not name-based:
    * an entry named by ANY retained manifest survives, so time travel
    * within [keepFrom, latest] is untouched and only genuinely
    * unreachable history is reclaimed. Deliberately touches nothing it
    * cannot account for — entries never named by a dropped manifest
    * (checkpoints, metas, staging dirs) are left alone, and `#` control
    * lines name no entry. Returns the deleted entry names. */
  def vacuum(dir: java.nio.file.Path, keepFrom: Int): Seq[String] = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no commit log at $dir — nothing to vacuum")
    val latest = vs.last._1
    require(keepFrom >= 1 && keepFrom <= latest,
      s"vacuum keepFrom $keepFrom out of committed range [1, $latest] at $dir")
    val (dropped, kept) = vs.partition(_._1 < keepFrom)
    def names(ms: Seq[(Int, java.nio.file.Path)]): Set[String] =
      ms.flatMap { case (_, p) => linesOf(p).filterNot(isCtlLine) }.toSet
    val doomed = (names(dropped) -- names(kept)).toSeq.sorted
    doomed.foreach { n =>
      rmTree(dir.resolve(n).toFile)
      // reclaim the entry's zone-map sidecar with it (absent for
      // artifact-store members — deleteIfExists is the no-op then)
      Files.deleteIfExists(dir.resolve(KvZoneMap.sidecarName(n))): Unit
    }
    dropped.foreach { case (_, p) => Files.deleteIfExists(p): Unit }
    doomed
  }

  /** Delete `f` and, for a directory, everything under it. */
  private[graft] def rmTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmTree)
    Files.deleteIfExists(f.toPath): Unit
  }
}

/** Field framing escape shared by sink (write) and source (read): a
  * string containing the field/record delimiters must round-trip, not
  * corrupt the file. Escape order matters — '%' first on write, last on
  * read. */
object KvEscape {
  /** The NULL token for string fields: a raw `%` always escapes to
    * `%25`, so `%N` can never appear in escaped data — an unambiguous
    * null marker (numeric fields use the empty field instead, which a
    * written number can never be). */
  val NullToken = "%N"

  def escape(s: String): String =
    s.replace("%", "%25").replace(",", "%2C")
      .replace("\n", "%0A").replace("\r", "%0D")
  def unescape(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%2C", ",").replace("%25", "%")

  /** CODE-POINT string order — the order Spark itself compares strings in
    * (`UTF8String.compareTo` is byte-wise UTF-8, which equals code-point
    * order). Java's `String.compareTo` is UTF-16 code-UNIT order instead,
    * which sorts supplementary characters (stored as surrogate pairs in
    * [0xD800,0xDFFF]) BELOW [0xE000,0xFFFF] even though their code points
    * are above — so a writer bound, prune decision, or reader filter using
    * `compareTo` silently diverges from Spark on non-BMP text (r11 ADVICE).
    * Everything that orders store strings — writer bounds, zone-map prune,
    * reader eval — goes through here. The fix-up is the standard one: when
    * both differing units are ≥ 0xD800, shift surrogates above BMP before
    * differencing. Total and consistent even on unpaired surrogates. */
  def cpCompare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        if (ca >= 0xD800 && cb >= 0xD800) {
          val xa = if (ca >= 0xE000) ca - 0x800 else ca + 0x2000
          val xb = if (cb >= 0xE000) cb - 0x800 else cb + 0x2000
          return xa - xb
        }
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }

  val cpOrdering: Ordering[String] = (a: String, b: String) => cpCompare(a, b)
}

case class KvWriterFactory(path: String, schema: StructType,
    partCol: Option[String] = None, nonce: String = "0",
    bloomCols: Seq[String] = Nil, constraints: Seq[KvConstraint] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, schema, partitionId, taskId, partCol, nonce,
      bloomCols, constraints)
}

/** Task-side writer. Default layout: ONE staged file per task. With
  * `partitionColumn` (an integer column): one staged file per partition
  * VALUE present in the task's input — the value-partitioned layout whose
  * committed sidecars carry min==max for that column, which is what lets
  * the source report key-grouped output partitioning (storage-partitioned
  * joins / shuffle-free aggregation; see [[KvSourceProvider]]
  * `partitionedBy`). Callers co-locate a value into one task by
  * `repartition(n, col)` upstream; the layout stays correct either way
  * (several files may share a value — the source groups them). */
class KvDataWriter(path: String, schema: StructType, partitionId: Int,
    taskId: Long, partCol: Option[String] = None, nonce: String = "0",
    bloomCols: Seq[String] = Nil, constraints: Seq[KvConstraint] = Nil)
    extends DataWriter[InternalRow] {
  constraints.foreach(c => require(schema.fieldNames.contains(c.col),
    s"graft kv sink: constraint '${c.name}' references unknown column " +
      s"'${c.col}'"))

  // per-column field kind, resolved once: 0 long, 1 int, 2 double,
  // 3 string, -1 unsupported (rejected when a row arrives)
  private val kinds: Array[Int] = schema.fields.map(_.dataType match {
    case LongType => 0
    case IntegerType => 1
    case DoubleType => 2
    case StringType => 3
    case _ => -1
  })
  private val partIdx: Option[Int] = partCol.map { c =>
    val i = schema.fieldNames.indexOf(c)
    require(i >= 0, s"graft kv sink: partitionColumn '$c' not in schema")
    require(schema.fields(i).dataType == LongType ||
      schema.fields(i).dataType == IntegerType,
      s"graft kv sink: partitionColumn '$c' must be integer-typed")
    i
  }
  private val line = new java.lang.StringBuilder

  /** One staged file + its zone-map accumulator. The writer handle is
    * LAZY and re-openable (append mode), so a high-cardinality
    * `partitionColumn` degrades to open/close churn past [[MaxOpenWriters]]
    * instead of exhausting file descriptors mid-write (r11 ADVICE). */
  private final class FileAcc(val key: Long, suffix: String) {
    val staged: File = {
      val d = new File(path, "_staging")
      d.mkdirs()
      val f = new File(d, s"part-$partitionId-$taskId-$nonce$suffix.csv")
      f.createNewFile() // the (possibly empty) file exists from creation
      f
    }
    private var w: BufferedWriter = null
    def writer(): BufferedWriter = {
      if (w == null) {
        evictIfNeeded(this)
        w = new BufferedWriter(new FileWriter(staged, true))
      }
      w
    }
    def isOpen: Boolean = w != null
    def closeWriter(): Unit = if (w != null) { w.close(); w = null }
    val zone = new KvZoneAcc(schema, bloomCols)
  }

  /** Simultaneously-open writer cap: past it the least-recently-USED open
    * accumulator is flushed closed and transparently reopened in append
    * mode on its next row. */
  private val MaxOpenWriters = 64
  // open keys in least-recently-used-first order
  private val openLru = scala.collection.mutable.LinkedHashSet.empty[Long]
  private def evictIfNeeded(opening: FileAcc): Unit = {
    if (openLru.size >= MaxOpenWriters) {
      val victim = openLru.head
      openLru.remove(victim)
      accs(victim).closeWriter()
    }
    openLru.add(opening.key): Unit
  }
  private def touch(acc: FileAcc): Unit = if (acc.isOpen) {
    // move to most-recently-used position (no-op cost when already last)
    if (openLru.lastOption.contains(acc.key)) ()
    else { openLru.remove(acc.key); openLru.add(acc.key): Unit }
  }

  // default layout uses the single accumulator keyed 0
  private val accs = scala.collection.mutable.LinkedHashMap.empty[Long, FileAcc]
  private def accFor(row: InternalRow): FileAcc = partIdx match {
    case None => accs.getOrElseUpdate(0L, new FileAcc(0L, ""))
    case Some(i) =>
      val v = schema.fields(i).dataType match {
        case LongType => row.getLong(i)
        case _ => row.getInt(i).toLong
      }
      accs.getOrElseUpdate(v, new FileAcc(v, s"-p$v"))
  }

  override def write(row: InternalRow): Unit = {
    // NULLS are carried, counted, and excluded from bounds/sums (r13 —
    // ALTER TABLE ADD COLUMN makes them real): a null numeric writes the
    // empty field, a null string writes the `%N` token (impossible in
    // escaped data, where every raw `%` becomes `%25`). The PARTITION
    // column stays non-null — it is the file-routing key.
    partIdx.foreach { i =>
      require(!row.isNullAt(i),
        s"graft kv sink: null value for partition column " +
          s"'${schema.fields(i).name}' — partition routing needs a value")
    }
    val acc = accFor(row)
    val zone = acc.zone
    line.setLength(0)
    var c = 0
    while (c < kinds.length) {
      if (c > 0) line.append(',')
      if (row.isNullAt(c)) {
        zone.nullAt(c)
        if (kinds(c) == 3) line.append(KvEscape.NullToken)
      } else kinds(c) match {
        case 0 => val v = row.getLong(c); zone.long(c, v); line.append(v)
        case 1 => val v = row.getInt(c); zone.long(c, v); line.append(v)
        case 2 => val v = row.getDouble(c); zone.double(c, v); line.append(v)
        case 3 =>
          val v = row.getUTF8String(c).toString
          zone.string(c, v)
          line.append(KvEscape.escape(v))
        case _ => throw new IllegalArgumentException(
          "graft kv sink: unsupported field type " +
            schema.fields(c).dataType.catalogString)
      }
      c += 1
    }
    zone.row()
    val out = acc.writer()
    touch(acc)
    out.append(line)
    out.newLine()
  }

  /** Constraint gate at TASK commit: the accumulators this writer kept
    * for the zone-map sidecar are exactly the evidence each constraint
    * needs, so enforcement is free per-row and the violation surfaces
    * BEFORE this task returns its staged files — the job aborts, the
    * driver's abort() discards all staging, nothing publishes. */
  private def enforceConstraints(acc: FileAcc): Unit = constraints.foreach { c =>
    acc.zone.violation(c).foreach { ev =>
      throw new IllegalArgumentException(
        s"graft kv sink: CONSTRAINT '${c.name}' (${c.describe}) violated " +
          s"by this write — $ev; nothing was published (2PC: the job " +
          "aborts and all staged files are discarded)")
    }
  }

  override def commit(): WriterCommitMessage = {
    // the default layout commits its (possibly empty) file even when no
    // row arrived, preserving the historical one-file-per-task contract
    if (partIdx.isEmpty && accs.isEmpty) accs(0L) = new FileAcc(0L, "")
    accs.values.foreach(enforceConstraints)
    KvCommit(accs.values.toSeq.map { acc =>
      acc.closeWriter()
      acc.zone.finish(acc.staged.getAbsolutePath)
    })
  }

  override def abort(): Unit =
    accs.values.foreach { acc =>
      acc.closeWriter()
      acc.staged.delete(): Unit
    }

  override def close(): Unit = ()
}
