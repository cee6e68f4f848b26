package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{KvCommitLog, KvListStats}

/** The r12 commit-log extensions — REMOVE lines, checkpoints, txn
  * markers, and manifest-based split planning:
  *
  *  - the latest view of a committed store is planned from the MANIFESTS
  *    (zero data-directory traversal): a stray visible file dropped into
  *    the directory without a commit is NOT data;
  *  - a `-name` line removes a file from the live set while the file
  *    stays on disk — time travel below the removal still reads it;
  *  - `vacuumDelta` folds dropped history into a checkpoint: snapshots
  *    ≥ keepFrom survive byte-identically, snapshots below THROW (never
  *    silently return a file-less wrong answer), and unreachable files
  *    are physically reclaimed;
  *  - a txn id recorded with a commit makes replaying that commit a
  *    no-op (exactly-once streaming ingest without wipe-before-write);
  *  - SaveMode.Overwrite through SupportsTruncate is one NEW log version
  *    (remove-all + add), so the pre-overwrite snapshot stays readable.
  */
class KvCommitLogSpec extends AnyFunSuite with SparkSessionFixture {

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_cls_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def writeKv(df: org.apache.spark.sql.DataFrame, out: String,
      opts: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("graft.sources.KvSinkProvider").option("path", out)
    opts.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
      .mode("append").save()
  }

  private def readKv(out: String, schema: String,
      asOf: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft.sources.KvSourceProvider")
      .option("path", out).option("schema", schema)
    asOf.fold(r)(v => r.option("asOfCommit", v.toString)).load()
  }

  test("latest view plans from manifests: an uncommitted stray file is not data") {
    val out = freshDir("manifest")
    writeKv(spark.range(10).select(col("id").as("k")), out)
    // a foreign process drops a VISIBLE file without committing it
    Files.write(Paths.get(out, "stray.csv"), "999\n".getBytes("UTF-8"))
    val got = readKv(out, "k LONG").agg(count(lit(1)), max(col("k")))
      .collect()(0)
    assert(got.getLong(0) == 10 && got.getLong(1) == 9,
      "stray uncommitted file leaked into a manifest-planned scan")
    assert(KvListStats.last(out).contains("manifest"))
    // a log-LESS directory still walks (and then sees everything visible)
    val plain = freshDir("walk")
    Files.write(Paths.get(plain, "a.csv"), "1\n2\n".getBytes("UTF-8"))
    assert(readKv(plain, "k LONG").count() == 2)
    assert(KvListStats.last(plain).contains("walk"))
  }

  test("remove lines: file leaves the live set but stays readable via asOf") {
    val out = freshDir("remove")
    writeKv(spark.range(0, 5).coalesce(1).select(col("id").as("k")), out)   // commit 1
    writeKv(spark.range(5, 10).coalesce(1).select(col("id").as("k")), out)  // commit 2
    val dir = Paths.get(out)
    val victim = KvCommitLog.filesAsOf(dir, 1).head
    KvCommitLog.append(dir, Nil, removed = Seq(victim))         // commit 3
    assert(readKv(out, "k LONG").count() == 5, "removed file still planned")
    assert(readKv(out, "k LONG", asOf = Some(2)).count() == 10,
      "time travel below the removal lost the removed file")
    assert(Files.exists(dir.resolve(victim)), "remove must not delete data")
  }

  test("vacuumDelta: checkpoint fold, snapshot preservation, reclamation, throw below") {
    val out = freshDir("vacuum")
    writeKv(spark.range(0, 5).coalesce(1).select(col("id").as("k")), out)   // v1
    writeKv(spark.range(5, 10).coalesce(1).select(col("id").as("k")), out)  // v2
    val dir = Paths.get(out)
    val victim = KvCommitLog.filesAsOf(dir, 1).head
    KvCommitLog.append(dir, Nil, removed = Seq(victim))         // v3
    val before3 = readKv(out, "k LONG").orderBy("k").collect().toSeq
    val doomed = KvCommitLog.vacuumDelta(dir, 3)
    assert(doomed == Seq(victim), s"expected [$victim] reclaimed, got $doomed")
    assert(!Files.exists(dir.resolve(victim)))
    assert(KvCommitLog.latestVersion(dir) == 3, "head version must survive")
    assert(readKv(out, "k LONG").orderBy("k").collect().toSeq == before3,
      "latest view changed across vacuum")
    assert(readKv(out, "k LONG", asOf = Some(3)).count() == 5)
    val e = intercept[Exception] { readKv(out, "k LONG", asOf = Some(2)).count() }
    assert(e.getMessage.contains("vacuum"),
      s"pre-vacuum snapshot must throw, not mis-answer: ${e.getMessage}")
    // appends continue after a full vacuum (version numbering intact)
    writeKv(spark.range(100, 103).select(col("id").as("k")), out) // v4
    assert(KvCommitLog.latestVersion(dir) == 4)
    assert(readKv(out, "k LONG").count() == 8)
    assert(readKv(out, "k LONG", asOf = Some(3)).count() == 5)
  }

  test("txnId: an at-least-once replay publishes nothing twice, without wiping") {
    val out = freshDir("txn")
    val batch = spark.range(0, 7).select(col("id").as("k"))
    writeKv(batch, out, Map("txnId" -> "42"))
    val filesAfterFirst = KvCommitLog.liveFiles(Paths.get(out))
    val v1 = KvCommitLog.latestVersion(Paths.get(out))
    // the replay: same txn id, same content — must be a published no-op
    writeKv(batch, out, Map("txnId" -> "42"))
    assert(KvCommitLog.latestVersion(Paths.get(out)) == v1,
      "replayed txn published a new version")
    assert(KvCommitLog.liveFiles(Paths.get(out)) == filesAfterFirst,
      "replayed txn changed the live set")
    assert(readKv(out, "k LONG").count() == 7, "replay duplicated rows")
    // a DIFFERENT txn still lands
    writeKv(spark.range(7, 9).select(col("id").as("k")), out,
      Map("txnId" -> "43"))
    assert(readKv(out, "k LONG").count() == 9)
  }

  test("txn markers survive vacuumDelta: a post-vacuum replay is still a no-op") {
    val out = freshDir("txnvac")
    val dir = Paths.get(out)
    writeKv(spark.range(0, 4).select(col("id").as("k")), out,
      Map("txnId" -> "7"))                                      // v1 (#txn,7)
    writeKv(spark.range(4, 8).select(col("id").as("k")), out)   // v2
    // vacuum folds v1+v2 into a checkpoint and DELETES both manifests —
    // the #txn,7 marker must be carried into the checkpoint
    KvCommitLog.vacuumDelta(dir, 2)
    assert(KvCommitLog.versions(dir).isEmpty, "manifests should be folded")
    assert(KvCommitLog.txnCommitted(dir, "7"),
      "txn marker lost in vacuum — a replay would publish twice")
    val v = KvCommitLog.latestVersion(dir)
    writeKv(spark.range(0, 4).select(col("id").as("k")), out,
      Map("txnId" -> "7")) // the replay, after history was vacuumed
    assert(KvCommitLog.latestVersion(dir) == v,
      "post-vacuum replay published a new version")
    assert(readKv(out, "k LONG").count() == 8, "post-vacuum replay duplicated")
    // and a second vacuum carries the marker forward again (checkpoint →
    // checkpoint), plus new manifests' markers join it
    writeKv(spark.range(8, 9).select(col("id").as("k")), out,
      Map("txnId" -> "8"))                                      // v3 (#txn,8)
    KvCommitLog.vacuumDelta(dir, 3)
    assert(KvCommitLog.txnCommitted(dir, "7") && KvCommitLog.txnCommitted(dir, "8"))
    assert(!KvCommitLog.txnCommitted(dir, "9"))
  }

  test("racing overwrites: exactly one wins, the loser aborts (no union)") {
    val out = freshDir("occow")
    val dir = Paths.get(out)
    writeKv(spark.range(0, 10).coalesce(1).select(col("id").as("k")), out) // v1
    val base = KvCommitLog.latestVersion(dir)
    val removedAtBase = KvCommitLog.filesAsOf(dir, base).toSeq
    // writer A commits its overwrite first (same base snapshot)
    assert(scala.util.Try(KvCommitLog.publish(dir, Some(base),
      Seq(graft.sources.KvPresent("a.csv")), removedAtBase)).isSuccess)
    // writer B read the SAME base — its remove list is stale, must lose
    assert(!scala.util.Try(KvCommitLog.publish(dir, Some(base),
      Seq(graft.sources.KvPresent("b.csv")), removedAtBase)).isSuccess,
      "second overwrite of the same base must conflict, not union")
    // and the full sink path surfaces the conflict: start an overwrite
    // whose base is pre-A by committing A's manifest between liveFiles
    // capture and publish — simulated here by direct log check
    assert(KvCommitLog.liveFiles(dir) == Set("a.csv"))
  }

  test("overwrite is a new log version; the pre-overwrite snapshot survives") {
    val out = freshDir("overwrite")
    writeKv(spark.range(0, 10).select(col("id").as("k")), out) // v1
    spark.range(100, 103).select(col("id").as("k"))
      .write.format("graft.sources.KvSinkProvider").option("path", out)
      .mode("overwrite").save()                                // v2: truncate
    assert(readKv(out, "k LONG").orderBy("k").collect().map(_.getLong(0)).toSeq
      == Seq(100L, 101L, 102L))
    assert(readKv(out, "k LONG", asOf = Some(1)).count() == 10,
      "overwrite destroyed the previous snapshot")
    assert(KvCommitLog.latestVersion(Paths.get(out)) == 2)
  }
}
