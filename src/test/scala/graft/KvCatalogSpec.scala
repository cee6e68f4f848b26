package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{KvListStats, KvPruneStats}

/** Plan-shape parity for the SQL catalog (sources/KvCatalog): the verdict
  * asked that the catalog path hit the SAME pruned scans as the options
  * path — not a second engine behind nicer names. Pinned here:
  *
  *  - a filtered `spark.sql` SELECT pushes its predicates into the scan
  *    and zone-map-skips files (KvPruneStats sees fewer planned than
  *    listed), with the listing planned from MANIFESTS, not a walk;
  *  - an ungrouped aggregate over a catalog table is STATS-ANSWERED (the
  *    executed plan carries no HashAggregate) — same for GROUP BY the
  *    partition column of a PARTITIONED BY table;
  *  - time-travel tables reject writes; DELETE with an untranslatable
  *    predicate is rejected at analysis, never mis-applied.
  */
class KvCatalogSpec extends AnyFunSuite with SparkSessionFixture {

  private lazy val warehouse = {
    val d = java.nio.file.Files.createTempDirectory("graft_kvcat_spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.kcs", "graft.sources.KvCatalog")
    spark.conf.set("spark.sql.catalog.kcs.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS kcs.ns")
  }

  private def tableDir(t: String) = s"$warehouse/ns/$t"

  test("filtered SQL SELECT: pushdown + zone-map skip + manifest planning") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.zm")
    spark.sql("CREATE TABLE kcs.ns.zm (k BIGINT, v BIGINT)")
    spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k"))
      .createOrReplaceTempView("zm_src")
    spark.sql("INSERT INTO kcs.ns.zm SELECT /*+ REPARTITION_BY_RANGE(8, k) */ * FROM zm_src")
    val df = spark.sql("SELECT v FROM kcs.ns.zm WHERE k >= 10 AND k < 50")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (10L until 50L).map(_ * 3))
    // the scan pruned: 8 range files listed, only the covering file(s) planned
    val (listed, planned) = KvPruneStats.last(tableDir("zm")).get
    assert(listed == 8 && planned < listed,
      s"expected zone-map skip through SQL, got listed=$listed planned=$planned")
    assert(KvListStats.last(tableDir("zm")).contains("manifest"),
      "catalog scan must plan from manifests, not a directory walk")
    // pushdown is visible in the plan text (connector-evaluated filters)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed="), s"no pushed filters in plan:\n$plan")
  }

  test("ungrouped aggregate over a catalog table is stats-answered") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.agg")
    spark.sql("CREATE TABLE kcs.ns.agg (k BIGINT, v BIGINT)")
    spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("agg_src")
    spark.sql("INSERT INTO kcs.ns.agg SELECT * FROM agg_src")
    val df = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx, sum(v) AS sv FROM kcs.ns.agg")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"catalog aggregate must be stats-answered:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == 500 && r.getLong(1) == 0 && r.getLong(2) == 499 &&
      r.getLong(3) == (0L until 500L).map(_ * 2).sum)
  }

  test("PARTITIONED BY table: GROUP BY the partition column folds sidecars") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.part")
    spark.sql("CREATE TABLE kcs.ns.part (g BIGINT, x BIGINT) PARTITIONED BY (g)")
    spark.range(0, 300)
      .select((col("id") % 5).as("g"), col("id").as("x"))
      .createOrReplaceTempView("part_src")
    spark.sql(
      "INSERT INTO kcs.ns.part SELECT /*+ REPARTITION(4, g) */ * FROM part_src")
    val df = spark.sql(
      "SELECT g, count(*) AS n, sum(x) AS sx FROM kcs.ns.part GROUP BY g")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"grouped aggregate over the partition column must fold sidecars:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = (0L until 300L).groupBy(_ % 5).toSeq.sortBy(_._1)
      .map { case (g, xs) => (g, xs.size.toLong, xs.sum) }
    assert(got == want)
  }

  test("time-travel snapshots are read-only; bad DELETE predicates rejected") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.ro")
    spark.sql("CREATE TABLE kcs.ns.ro (k BIGINT, s STRING)")
    spark.sql("INSERT INTO kcs.ns.ro VALUES (1, 'a'), (2, 'b')")
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO kcs.ns.ro VERSION AS OF 1 VALUES (3, 'c')")
    }
    assert(e1 != null)
    // an untranslatable DELETE condition (expression over a column) falls
    // through SupportsDelete to the GROUP-BASED row-level path (r13) —
    // previously an analysis error, now a copy-on-write rewrite
    spark.sql("DELETE FROM kcs.ns.ro WHERE k % 2 = 0")
    assert(spark.sql("SELECT k FROM kcs.ns.ro").collect().map(_.getLong(0))
      .toSeq == Seq(1L))
    // ...and a translatable one short-circuits through SupportsDelete
    spark.sql("DELETE FROM kcs.ns.ro WHERE s = 'a'")
    assert(spark.sql("SELECT count(*) FROM kcs.ns.ro").collect()(0).getLong(0) == 0)
  }

  test("SQL UPDATE: zone-map-targeted CoW rewrite, time travel preserved") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.up")
    spark.sql("CREATE TABLE kcs.ns.up (k BIGINT, v BIGINT)")
    spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("up_src")
    spark.sql("INSERT INTO kcs.ns.up SELECT /*+ REPARTITION_BY_RANGE(8, k) */ * FROM up_src")
    val dir = tableDir("up")
    val preVersion = graft.sources.KvCommitLog.latestVersion(
      java.nio.file.Paths.get(dir))
    val preFiles = graft.sources.KvCommitLog.liveFiles(
      java.nio.file.Paths.get(dir))

    spark.sql("UPDATE kcs.ns.up SET v = v + 1000000 WHERE k >= 10 AND k < 50")
    // capture the CoW group scan's pruning BEFORE any later scan of the
    // same dir overwrites the per-path counters
    val (listed, planned) = KvPruneStats.last(dir).get

    // semantics: exactly the WHERE range updated, everything else intact
    val got = spark.sql("SELECT k, v FROM kcs.ns.up").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == (0L until 1000L).map(k =>
      (k, if (k >= 10 && k < 50) k * 3 + 1000000 else k * 3)))
    // plan shape: the group scan zone-map-targeted the rewrite — only the
    // range-covering file(s) were scanned/rewritten, not all 8
    assert(listed == 8 && planned < listed,
      s"UPDATE rewrite not zone-map-targeted: listed=$listed planned=$planned")
    // one new version; untouched files still live under their old names
    val post = graft.sources.KvCommitLog.liveFiles(java.nio.file.Paths.get(dir))
    assert(graft.sources.KvCommitLog.latestVersion(
      java.nio.file.Paths.get(dir)) == preVersion + 1)
    assert((preFiles intersect post).size == 8 - planned,
      "untouched files must keep their committed identity")
    // time travel below the mutation still answers the old rows
    val old = spark.sql(
      s"SELECT v FROM kcs.ns.up VERSION AS OF $preVersion WHERE k = 20")
      .collect()(0).getLong(0)
    assert(old == 60L, s"pre-update snapshot lost: $old")
  }

  test("SQL MERGE INTO: runtime group filtering rewrites matched files only") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.mg")
    spark.sql("CREATE TABLE kcs.ns.mg (k BIGINT, v BIGINT)")
    spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .createOrReplaceTempView("mg_src")
    spark.sql("INSERT INTO kcs.ns.mg SELECT /*+ REPARTITION_BY_RANGE(8, k) */ * FROM mg_src")
    val dir = tableDir("mg")
    // a CDC-sized change batch: 3 updates in one value range, 2 inserts
    import spark.implicits._
    Seq((20L, -1L), (21L, -2L), (22L, -3L), (5000L, 50L), (5001L, 51L))
      .toDF("k", "v").createOrReplaceTempView("mg_changes")

    spark.sql("""
      MERGE INTO kcs.ns.mg t USING mg_changes s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """)
    // capture the CoW group scan's pruning before later scans overwrite it
    val (listed, planned) = KvPruneStats.last(dir).get

    val got = spark.sql("SELECT k, v FROM kcs.ns.mg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expect = (0L until 1000L).map {
      case 20L => (20L, -1L); case 21L => (21L, -2L); case 22L => (22L, -3L)
      case k => (k, k * 3)
    } ++ Seq((5000L, 50L), (5001L, 51L))
    assert(got == expect, s"merge semantics broken (got ${got.size} rows)")
    // the ON condition references the source, so only RUNTIME group
    // filtering can target — the dynamic _file subquery must have pruned
    assert(listed == 8 && planned < listed,
      s"MERGE rewrite not runtime-group-targeted: listed=$listed planned=$planned")
  }

  test("row-level OCC: a concurrent commit aborts the derived rewrite") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.occ")
    spark.sql("CREATE TABLE kcs.ns.occ (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO kcs.ns.occ VALUES (1, 10), (2, 20)")
    val dir = java.nio.file.Paths.get(tableDir("occ"))
    import org.apache.spark.sql.connector.write.RowLevelOperation
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tblSchema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT")
    val op = new graft.sources.KvRowLevelOperation(
      tableDir("occ"), tblSchema, None, RowLevelOperation.Command.UPDATE)
    // the operation scan plans its group set from the pinned base...
    val scan = op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    assert(scan.toBatch.planInputPartitions().nonEmpty)
    // ...then a concurrent writer commits before this op's write lands
    graft.sources.KvCommitLog.append(dir, Nil, Nil)
    val write = op.newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "occ-test"
      override def schema(): org.apache.spark.sql.types.StructType = tblSchema
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    }).build().toBatch
    val e = intercept[IllegalStateException] {
      write.commit(Array.empty)
    }
    assert(e.getMessage.contains("concurrent commit"),
      s"expected OCC conflict, got: ${e.getMessage}")
    // the table is unharmed: both rows still there, no partial mutation
    assert(spark.sql("SELECT count(*) FROM kcs.ns.occ").collect()(0)
      .getLong(0) == 2)
  }

  test("ALTER TABLE ADD COLUMN: era null-fill, time-travel schema, CoW across eras") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.evo")
    spark.sql("CREATE TABLE kcs.ns.evo (k BIGINT, s STRING)")
    spark.sql("INSERT INTO kcs.ns.evo VALUES (1, 'a'), (2, 'b')") // v1, era 0
    spark.sql("ALTER TABLE kcs.ns.evo ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO kcs.ns.evo VALUES (3, 'c', 30)")       // v2, era 2
    // reads span both eras: old rows null-fill the added column
    val rows = spark.sql("SELECT k, s, w FROM kcs.ns.evo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toSeq
    assert(rows == Seq((1L, "a", null), (2L, "b", null), (3L, "c", 30L)))
    // null semantics reach the connector: filters and IS [NOT] NULL
    assert(spark.sql("SELECT k FROM kcs.ns.evo WHERE w IS NOT NULL")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(spark.sql("SELECT k FROM kcs.ns.evo WHERE w = 30")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // stats-answered aggregates stay EXACT across eras (count skips
    // nulls via #n lines / era detection)
    val agg = spark.sql(
      "SELECT count(*), count(w), min(w), max(w), sum(w) FROM kcs.ns.evo")
      .collect()(0)
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
      agg.getLong(4)) == ((3L, 1L, 30L, 30L, 30L)))
    // time travel below the ALTER presents the OLD schema
    val v1 = spark.sql("SELECT * FROM kcs.ns.evo VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "s"), s"old era schema: ${v1.columns.toSeq}")
    assert(v1.count() == 2)
    // row-level UPDATE across eras: the CoW rewrite reads null-filled
    // rows and writes nulls back (numeric null = empty field)
    spark.sql("UPDATE kcs.ns.evo SET s = concat(s, '!') WHERE k <= 2")
    val after = spark.sql("SELECT k, s, w FROM kcs.ns.evo ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)))).toSeq
    assert(after == Seq((1L, "a!", null), (2L, "b!", null), (3L, "c", 30L)))
    // rejections: retype stays a rewrite-the-store operation
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE kcs.ns.evo ALTER COLUMN w TYPE STRING")
    }
    assert(e1.getMessage.contains("unsupported ALTER TABLE") ||
      e1.getMessage.toLowerCase.contains("type"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE kcs.ns.evo ADD COLUMN x BIGINT FIRST")
    }
    assert(e2.getMessage.contains("append at the end"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE kcs.ns.evo ADD COLUMN y BIGINT NOT NULL")
    }
    assert(e3.getMessage.contains("must be nullable"), e3.getMessage)
  }

  test("ALTER TABLE RENAME/DROP COLUMN: metadata-only, sidecars keep pruning, time travel exact") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.evo2")
    spark.sql("CREATE TABLE kcs.ns.evo2 (k BIGINT, a BIGINT, b STRING)")
    spark.range(0, 400)
      .select(col("id").as("k"), (col("id") * 7).as("a"),
        concat(lit("s"), col("id")).as("b"))
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("evo2_src")
    spark.sql("INSERT INTO kcs.ns.evo2 SELECT /*+ REPARTITION_BY_RANGE(4, k) */ * FROM evo2_src") // v1

    // RENAME is metadata-only: presentation changes, files untouched
    spark.sql("ALTER TABLE kcs.ns.evo2 RENAME COLUMN a TO amount")
    assert(spark.table("kcs.ns.evo2").columns.toSeq ==
      Seq("k", "amount", "b"))
    assert(spark.sql("SELECT sum(amount) AS s FROM kcs.ns.evo2")
      .collect()(0).getLong(0) == (0L until 400L).map(_ * 7).sum)
    // a filter on the RENAMED column still zone-map-prunes: the sidecars
    // are keyed by the birth name and the boundary translates
    val sel = spark.sql(
      "SELECT k FROM kcs.ns.evo2 WHERE k >= 10 AND k < 60 AND amount >= 0")
    assert(sel.collect().map(_.getLong(0)).sorted.toSeq == (10L until 60L))
    val (listed1, planned1) = KvPruneStats.last(tableDir("evo2")).get
    assert(listed1 == 4 && planned1 < listed1,
      s"renamed-column scan lost pruning: listed=$listed1 planned=$planned1")
    // the old name is gone from the logical surface
    intercept[Exception] { spark.sql("SELECT a FROM kcs.ns.evo2").collect() }

    // DROP hides a MIDDLE column; reads project it out, writes null-fill
    spark.sql("ALTER TABLE kcs.ns.evo2 DROP COLUMN amount")
    assert(spark.table("kcs.ns.evo2").columns.toSeq == Seq("k", "b"))
    spark.sql("INSERT INTO kcs.ns.evo2 VALUES (1000, 'z')") // v2: physical width 3
    val rows = spark.sql("SELECT k, b FROM kcs.ns.evo2 WHERE k >= 398 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((398L, "s398"), (399L, "s399"), (1000L, "z")))

    // TIME TRAVEL presents the view of its day, bit-exact across both
    // evolution boundaries: v1 pre-rename era name is 'a', with values
    val v1 = spark.sql("SELECT * FROM kcs.ns.evo2 VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "a", "b"))
    assert(v1.filter(col("k") === 399).collect()(0).getLong(1) == 399L * 7)
    assert(v1.count() == 400)

    // DELETE/UPDATE on the evolved table: filters translate; the CoW
    // rewrite keeps the full physical layout (placeholder nulls)
    spark.sql("DELETE FROM kcs.ns.evo2 WHERE k >= 200 AND k < 398")
    assert(spark.table("kcs.ns.evo2").count() == 203)
    spark.sql("UPDATE kcs.ns.evo2 SET b = concat(b, '!') WHERE k < 2")
    assert(spark.sql("SELECT b FROM kcs.ns.evo2 WHERE k < 2 ORDER BY k")
      .collect().map(_.getString(0)).toSeq == Seq("s0!", "s1!"))
    // ...and time travel STILL shows the dropped column's original values
    assert(spark.sql("SELECT a FROM kcs.ns.evo2 VERSION AS OF 1 WHERE k = 399")
      .collect()(0).getLong(0) == 399L * 7)

    // birth names are field ids: reuse of a historical BIRTH name is
    // rejected; renames may not shadow one either
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE kcs.ns.evo2 ADD COLUMN a BIGINT")
    }
    assert(e2.getMessage.contains("birth"), e2.getMessage)
    spark.sql("ALTER TABLE kcs.ns.evo2 ADD COLUMN c BIGINT")
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE kcs.ns.evo2 RENAME COLUMN c TO a")
    }
    assert(e3.getMessage.contains("birth"), e3.getMessage)

    // maintenance on the evolved table: compact keeps content; zorder
    // takes LOGICAL column names
    spark.sql("CALL kcs.system.compact('ns.evo2', 2)").collect()
    assert(spark.table("kcs.ns.evo2").count() == 203)
    assert(spark.sql("SELECT b FROM kcs.ns.evo2 WHERE k = 0").collect()(0)
      .getString(0) == "s0!")
    spark.sql("ALTER TABLE kcs.ns.evo2 RENAME COLUMN k TO key")
    spark.sql("UPDATE kcs.ns.evo2 SET c = key * 2")
    spark.sql("CALL kcs.system.zorder('ns.evo2', 'key,c', 2)").collect()
    assert(spark.table("kcs.ns.evo2").count() == 203)
    assert(spark.sql("SELECT sum(c) AS s FROM kcs.ns.evo2").collect()(0)
      .getLong(0) ==
      spark.sql("SELECT sum(key) * 2 AS s FROM kcs.ns.evo2").collect()(0)
        .getLong(0))
  }

  test("CALL graftkv.system.*: compact folds files, checkpoint bounds the log, vacuum respects retention") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.mnt")
    spark.sql("CREATE TABLE kcs.ns.mnt (k BIGINT, v BIGINT)")
    // 5 commits, several files each — a small-files store
    for (b <- 0 until 5)
      spark.sql(s"INSERT INTO kcs.ns.mnt SELECT /*+ REPARTITION(3) */ id AS k, id * 7 AS v FROM range(${b * 100}, ${b * 100 + 100})")
    val dir = java.nio.file.Paths.get(tableDir("mnt"))
    val digest = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM kcs.ns.mnt")
      .collect()(0)
    val before = graft.sources.KvCommitLog.liveFiles(dir).size
    assert(before == 15, s"expected 15 live files, got $before")

    // COMPACT: one OCC commit folds the live set; content invariant
    val c = spark.sql("CALL kcs.system.compact('ns.mnt', 2)").collect()(0)
    assert(c.getLong(1) == 2L, s"compact output: $c")
    assert(graft.sources.KvCommitLog.liveFiles(dir).size == 2)
    val after = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM kcs.ns.mnt")
      .collect()(0)
    assert(after == digest, s"compaction changed content: $digest -> $after")
    // time travel below the compaction still serves the old layout
    assert(spark.sql(s"SELECT count(*) FROM kcs.ns.mnt VERSION AS OF 5")
      .collect()(0).getLong(0) == 500)

    // CHECKPOINT at head, then VACUUM below it: manifests fold away, the
    // log read is bounded by the checkpoint (that is the point)
    val head = spark.sql("CALL kcs.system.checkpoint('ns.mnt')")
      .collect()(0).getInt(0)
    assert(head == 6)
    val v = spark.sql("CALL kcs.system.vacuum('ns.mnt', 6)").collect()(0)
    assert(v.getLong(0) == 15L, s"vacuum must reclaim the 15 pre-compaction files: $v")
    assert(graft.sources.KvCommitLog.versions(dir).isEmpty,
      "all manifests <= keepFrom must fold into the checkpoint")
    // retention: head still answers; history below keepFrom throws
    assert(spark.sql("SELECT count(*) FROM kcs.ns.mnt").collect()(0).getLong(0) == 500)
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM kcs.ns.mnt VERSION AS OF 3").collect()
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // appends continue after full maintenance
    spark.sql("INSERT INTO kcs.ns.mnt VALUES (9999, 1)")
    assert(spark.sql("SELECT count(*) FROM kcs.ns.mnt").collect()(0).getLong(0) == 501)
  }

  test("readers never tear while ALTERs churn the table metadata") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.churn")
    spark.sql("CREATE TABLE kcs.ns.churn (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO kcs.ns.churn SELECT id, id FROM range(0, 1000)")
    val expect = (0L until 1000L).sum
    @volatile var stop = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val readers = (1 to 3).map { _ =>
      new Thread(() => {
        while (!stop) {
          try {
            // k never evolves; every read must see a complete _meta
            // (the atomic-replace write) and a consistent sum
            val s = spark.sql("SELECT sum(k) AS s FROM kcs.ns.churn")
              .collect()(0).getLong(0)
            if (s != expect)
              failures.add(new AssertionError(s"sum drifted: $s"))
          } catch { case t: Throwable => failures.add(t); stop = true }
        }
      })
    }
    readers.foreach(_.start())
    try {
      for (i <- 0 until 12) {
        spark.sql(s"ALTER TABLE kcs.ns.churn ADD COLUMN x$i BIGINT")
        spark.sql(s"ALTER TABLE kcs.ns.churn RENAME COLUMN x$i TO y$i")
        if (i % 3 == 2) spark.sql(s"ALTER TABLE kcs.ns.churn DROP COLUMN y$i")
      }
    } finally { stop = true; readers.foreach(_.join(30000)) }
    assert(failures.isEmpty, s"reader failures under ALTER churn: " +
      failures.toArray.take(3).mkString("; "))
  }

  test("renaming the PARTITION column keeps the value-partitioned layout working") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.pevo")
    spark.sql("CREATE TABLE kcs.ns.pevo (g BIGINT, v BIGINT) PARTITIONED BY (g)")
    spark.range(0, 60)
      .select((col("id") % 3).as("g"), col("id").as("v"))
      .repartition(3, col("g")).createOrReplaceTempView("pevo_src")
    spark.sql("INSERT INTO kcs.ns.pevo SELECT * FROM pevo_src")
    spark.sql("ALTER TABLE kcs.ns.pevo RENAME COLUMN g TO grp")
    // reads resolve the renamed partition column; writes still route by
    // the birth-named position
    spark.sql("INSERT INTO kcs.ns.pevo VALUES (1, 1000)")
    val agg = spark.sql(
      "SELECT grp, count(*) AS n, sum(v) AS s FROM kcs.ns.pevo GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = (0L until 60L).groupBy(_ % 3)
    assert(agg == Seq(
      (0L, base(0).size.toLong, base(0).sum),
      (1L, base(1).size.toLong + 1, base(1).sum + 1000),
      (2L, base(2).size.toLong, base(2).sum)))
    // filtered read on the renamed partition column still prunes files
    val one = spark.sql("SELECT sum(v) AS s FROM kcs.ns.pevo WHERE grp = 2")
      .collect()(0).getLong(0)
    assert(one == base(2).sum)
  }

  test("streaming read of an EVOLVED table presents the logical view") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.sevo")
    spark.sql("CREATE TABLE kcs.ns.sevo (k BIGINT, a BIGINT, b STRING)")
    spark.sql("INSERT INTO kcs.ns.sevo VALUES (1, 10, 'x'), (2, 20, 'y')")
    spark.sql("ALTER TABLE kcs.ns.sevo RENAME COLUMN a TO amount")
    spark.sql("ALTER TABLE kcs.ns.sevo DROP COLUMN b")
    val q = spark.readStream.table("kcs.ns.sevo")
      .writeStream.format("memory").queryName("sevo_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO kcs.ns.sevo VALUES (3, 30)")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sevo_sink")
    assert(rows.columns.toSeq == Seq("k", "amount"))
    assert(rows.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("write-time constraints: a violating write publishes NOTHING and names the constraint") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.cstr")
    spark.sql("""CREATE TABLE kcs.ns.cstr (k BIGINT, v BIGINT, s STRING)
                 TBLPROPERTIES ('notNull'='k', 'check.v_pos'='v >= 0',
                                'check.s_lo'='s >= \'a\'')""")
    // a valid multi-file write passes
    spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2).as("v"),
        concat(lit("x"), col("id")).as("s"))
      .repartition(4).createOrReplaceTempView("cstr_ok")
    spark.sql("INSERT INTO kcs.ns.cstr SELECT * FROM cstr_ok")
    assert(spark.table("kcs.ns.cstr").count() == 100)
    val dir = java.nio.file.Paths.get(tableDir("cstr"))
    val v1Files = graft.sources.KvCommitLog.liveFiles(dir)

    // CHECK violation: ONE negative v among many valid rows, spread
    // across several tasks — the violating task throws at its commit,
    // the job aborts, and NOTHING publishes (not even the clean tasks)
    spark.range(100, 200)
      .select(col("id").as("k"),
        when(col("id") === 150, lit(-5L)).otherwise(col("id")).as("v"),
        lit("zz").as("s"))
      .repartition(4).createOrReplaceTempView("cstr_bad")
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO kcs.ns.cstr SELECT * FROM cstr_bad")
    }
    val m1 = Option(e1.getMessage).getOrElse("") +
      Option(e1.getCause).map(_.getMessage).getOrElse("")
    assert(m1.contains("v_pos") && m1.contains("v >= 0"), s"error: $m1")
    assert(spark.table("kcs.ns.cstr").count() == 100, "violating write leaked rows")
    assert(graft.sources.KvCommitLog.liveFiles(dir) == v1Files,
      "violating write published files")
    // no staged debris left behind — EVENTUALLY: the violating task's
    // failure aborts the job on the driver immediately, but sibling
    // tasks' own abort() cleanup runs asynchronously as they are killed,
    // so poll briefly instead of racing them (the durable guarantee —
    // nothing PUBLISHED — is asserted above on the live set)
    val staging = new java.io.File(tableDir("cstr"), "_staging")
    def stagingClean() = !staging.exists() ||
      staging.listFiles().forall(_.getName.startsWith("."))
    val deadline = System.currentTimeMillis() + 15000
    while (!stagingClean() && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(stagingClean(), "violating write left staged files")

    // NOT NULL violation (null k), same discipline
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO kcs.ns.cstr VALUES (NULL, 1, 'b')")
    }
    val m2 = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(m2.contains("notnull_k"), s"error: $m2")
    assert(spark.table("kcs.ns.cstr").count() == 100)

    // SQL semantics: NULL never violates CHECK (only NOT NULL rejects)
    spark.sql("INSERT INTO kcs.ns.cstr VALUES (200, NULL, NULL)")
    assert(spark.table("kcs.ns.cstr").count() == 101)

    // constraints reach the row-level CoW path too: an UPDATE that would
    // drive v negative fails and rolls back
    val e3 = intercept[Exception] {
      spark.sql("UPDATE kcs.ns.cstr SET v = v - 1000000 WHERE k < 10")
    }
    val m3 = Option(e3.getMessage).getOrElse("") +
      Option(e3.getCause).map(_.getMessage).getOrElse("")
    assert(m3.contains("v_pos"), s"error: $m3")
    assert(spark.sql("SELECT sum(v) AS s FROM kcs.ns.cstr").collect()(0)
      .getLong(0) == (0L until 100L).map(_ * 2).sum)

    // ...and a valid UPDATE passes
    spark.sql("UPDATE kcs.ns.cstr SET v = v + 1 WHERE k < 10")
    assert(spark.sql("SELECT sum(v) AS s FROM kcs.ns.cstr").collect()(0)
      .getLong(0) == (0L until 100L).map(_ * 2).sum + 10)

    // constraints are visible table properties
    val props = spark.sql("SHOW TBLPROPERTIES kcs.ns.cstr").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("constraint.v_pos").contains("v >= 0"), props.toString)
    assert(props.contains("constraint.notnull_k"), props.toString)
  }

  test("catalog DDL surface: list/rename/drop, schema enforcement") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.d1")
    spark.sql("DROP TABLE IF EXISTS kcs.ns.d2")
    spark.sql("CREATE TABLE kcs.ns.d1 (k BIGINT)")
    assert(spark.sql("SHOW TABLES IN kcs.ns").collect()
      .map(_.getString(1)).contains("d1"))
    // RENAME target is catalog-relative in Spark SQL
    spark.sql("ALTER TABLE kcs.ns.d1 RENAME TO ns.d2")
    assert(!spark.catalog.tableExists("kcs.ns.d1"))
    spark.sql("DROP TABLE kcs.ns.d2")
    // unsupported column types fail at CREATE, not at first write
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE kcs.ns.bad (k BIGINT, ts TIMESTAMP)")
    }
    assert(e.getMessage.contains("unsupported column type"))
  }

  test("table_changes TVF: per-version deltas from SQL; guardrails") {
    init()
    spark.sql("DROP TABLE IF EXISTS kcs.ns.tvf")
    spark.sql("CREATE TABLE kcs.ns.tvf (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO kcs.ns.tvf SELECT id, id * 2 FROM range(0, 10)")
    spark.sql("INSERT INTO kcs.ns.tvf SELECT id, id * 2 FROM range(10, 15)")
    spark.sql("DELETE FROM kcs.ns.tvf WHERE k < 3")
    // (1, 3]: v2's 5 inserts + v3's CoW events; the multiset fold over
    // the v1 snapshot + deltas reconstructs the final content exactly
    val folded = spark.sql(
      """WITH ev AS (
           SELECT k, v, 'insert' AS ct FROM kcs.ns.tvf VERSION AS OF 1
           UNION ALL
           SELECT k, v, _change_type FROM table_changes('kcs.ns.tvf', 1, 3))
         SELECT k, v FROM (
           SELECT k, v, sum(CASE WHEN ct = 'insert' THEN 1 ELSE -1 END) AS n
           FROM ev GROUP BY k, v) WHERE n > 0 ORDER BY k""").collect()
    assert(folded.map(_.getLong(0)).toSeq === (3L until 15L))
    // version column rides along
    val versions = spark.sql(
      "SELECT DISTINCT _commit_version FROM table_changes('kcs.ns.tvf', 1, 3)")
      .collect().map(_.getLong(0)).sorted
    assert(versions.toSeq === Seq(2L, 3L))
    // guardrails: out-of-range to, unknown catalog, non-literal args
    val oob = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('kcs.ns.tvf', 0, 99)").collect()
    }
    assert(oob.getMessage.contains("exceeds the latest committed version"))
    val nocat = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('nope.ns.t', 0, 1)").collect()
    }
    assert(nocat.getMessage.contains("no catalog named"))
    val unq = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('justtable', 0, 1)").collect()
    }
    assert(unq.getMessage.contains("fully qualified"))

    // EVOLVED table: the feed parses positionally with the PHYSICAL
    // layout and presents the logical view — a rename shows the new
    // name, a dropped middle column vanishes without shifting later
    // positions, and change events spanning the evolution boundary stay
    // value-exact
    spark.sql("ALTER TABLE kcs.ns.tvf RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE kcs.ns.tvf ADD COLUMN w BIGINT")
    spark.sql("INSERT INTO kcs.ns.tvf VALUES (100, 200, 300)") // v4
    spark.sql("ALTER TABLE kcs.ns.tvf DROP COLUMN val")
    val evoFeed = spark.sql(
      "SELECT * FROM table_changes('kcs.ns.tvf', 3, 4) ORDER BY k")
    assert(evoFeed.columns.toSeq ==
      Seq("k", "w", "_change_type", "_commit_version"), evoFeed.columns.toSeq)
    val r100 = evoFeed.filter(col("k") === 100).collect()(0)
    assert(r100.getLong(1) == 300 && r100.getString(2) == "insert" &&
      r100.getLong(3) == 4L)
  }
}
