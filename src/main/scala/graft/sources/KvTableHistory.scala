package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** `DESCRIBE HISTORY` for the store, as a SQL table function — the
  * audit-trail companion of [[KvTableChanges]]:
  *
  * {{{
  *   SELECT * FROM table_history('graftkv.ns.t')
  * }}}
  *
  * One row per surviving commit-log manifest, with the operation KIND
  * derived from the manifest's own line grammar (the log needs no
  * separate operation metadata — its deltas ARE the description):
  *
  *   - adds only                  → `append`
  *   - removes + adds             → `rewrite` (overwrite / CoW
  *                                  delete-merge-update / compaction /
  *                                  vector purge)
  *   - removes only               → `delete` (CoW delete that emptied
  *                                  every touched file)
  *   - `#dv` attachments only     → `dv_delete` (merge-on-read delete,
  *                                  [[KvDv]])
  *
  * plus per-commit file/vector counts, the rows added (folded from the
  * added files' committed sidecars; NULL once any is vacuumed or
  * statless), and the commit's `#txn` idempotency id when one was
  * recorded. Metadata-only and log-sized: the result is a driver-local
  * relation built from the manifests — no data file is opened. Vacuumed
  * manifests have no row (their history is gone by definition — that is
  * what vacuum means); the fold base checkpoint is NOT a commit and is
  * not listed. */
object KvTableHistory {

  val name = "table_history"

  def info: ExpressionInfo = new ExpressionInfo(
    KvTableHistory.getClass.getName, name)

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
          case kv: KvCatalogTable =>
            require(!kv.isTimeTravel,
              s"$name: history belongs to the table, not a snapshot — " +
                "name the table itself")
            kv.storeDir
          case other => throw new IllegalArgumentException(
            s"$name: '$ref' is not a graft kv store table " +
              s"(got ${other.getClass.getSimpleName})")
        }
      case _ => throw new IllegalArgumentException(
        s"$name: catalog '${parts.head}' is not a table catalog")
    }

    val dirPath = Paths.get(dir)
    val rows = KvCommitLog.versions(dirPath).map { case (v, p) =>
      val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
      val txn = lines.find(_.startsWith("#txn,")).map(_.stripPrefix("#txn,"))
      val dvAttaches = lines.count(_.startsWith("#dv,"))
      val removes = lines.count(l => l.startsWith("-"))
      val adds = lines.filter(l => !l.startsWith("#") && !l.startsWith("-"))
      val kind =
        if (adds.nonEmpty && removes == 0 && dvAttaches == 0) "append"
        else if (removes > 0 && adds.nonEmpty) "rewrite"
        else if (removes > 0) "delete"
        else if (dvAttaches > 0) "dv_delete"
        else "empty"
      // rows added, folded from committed sidecars; NULL once any added
      // file's stats are gone (vacuumed or statless) — never a guess
      val rowsAdded = adds.foldLeft(Option(0L)) { (acc, n) =>
        acc.flatMap(sum =>
          KvZoneMap.read(dirPath.resolve(n).toFile).map(sum + _.rows))
      }
      (v, kind, adds.size, removes, dvAttaches, rowsAdded, txn)
    }
    import s.implicits._
    rows.toDF("version", "kind", "files_added", "files_removed",
      "dvs_attached", "rows_added", "txn").queryExecution.logical
  }
}
