package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.unsafe.types.UTF8String

/** Per-file LAYOUT introspection as a SQL table function — the
  * `DESCRIBE DETAIL` / `files` metadata-table analog, third of the
  * store's TVF family ([[KvTableChanges]], [[KvTableHistory]]):
  *
  * {{{
  *   SELECT * FROM table_files('graftkv.ns.t')
  * }}}
  *
  * One row per LIVE file of the current snapshot, answered entirely
  * from committed metadata (manifests + zone-map sidecars + deletion
  * vectors — no data file opened): physical row count, bytes on disk,
  * vector-deleted row count (`live_rows = rows − dv_rows` is the
  * content), attached vector count, and how many columns carry
  * zone-map bounds / Bloom sidecars. This is what a 100 TB operator
  * reads before choosing maintenance: small-files skew → `compact`,
  * high dv_rows ratio → `purge_dvs`, weak bounds coverage on a hot
  * filter column → `zorder`. Driver-local and log-sized. */
object KvTableFiles {

  val name = "table_files"

  def info: ExpressionInfo = new ExpressionInfo(
    KvTableFiles.getClass.getName, name)

  def builder: Seq[Expression] => LogicalPlan = { args =>
    require(args.length == 1,
      s"$name(table) takes exactly 1 argument, got ${args.length}")
    val ref = args.head match {
      case Literal(u: UTF8String, _) => u.toString
      case other => throw new IllegalArgumentException(
        s"$name: table must be a string literal 'catalog.ns.table', got $other")
    }
    val s = SparkSession.active
    val parts = ref.split("\\.")
    require(parts.length >= 3,
      s"$name: table must be fully qualified 'catalog.ns.table', got '$ref'")
    val mgr = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager
    val cat = try mgr.catalog(parts.head) catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$name: no catalog named '${parts.head}' " +
          s"(is spark.sql.catalog.${parts.head} set?)", e)
    }
    val dir = cat match {
      case tc: TableCatalog =>
        tc.loadTable(Identifier.of(parts.tail.init, parts.last)) match {
          case kv: KvCatalogTable => kv.storeDir
          case other => throw new IllegalArgumentException(
            s"$name: '$ref' is not a graft kv store table " +
              s"(got ${other.getClass.getSimpleName})")
        }
      case _ => throw new IllegalArgumentException(
        s"$name: catalog '${parts.head}' is not a table catalog")
    }

    val dirPath = Paths.get(dir)
    val head = KvCommitLog.latestVersion(dirPath)
    val (live, dvs) = KvCommitLog.stateAsOf(dirPath, head)
    val rows = live.toSeq.sorted.map { n =>
      val f = new java.io.File(dir, n)
      val st = KvZoneMap.read(f)
      val vecs = dvs.getOrElse(n, Nil)
      val dvRows = KvDv.count(vecs.map(dirPath.resolve(_)))
      (n, st.map(_.rows), f.length(), dvRows, vecs.size,
        st.map(s0 => s0.cols.size + s0.dcols.size + s0.scols.size),
        st.map(_.blooms.size))
    }
    import s.implicits._
    rows.toDF("file", "rows", "bytes", "dv_rows", "dvs",
      "stat_cols", "bloom_cols").queryExecution.logical
  }
}
