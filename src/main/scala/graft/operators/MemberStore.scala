package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{KvCommitLog, KvMetaCache}

/** A directory of MANIFEST-NAMED MEMBERS — the one persistence protocol
  * under [[AnnIndex]], [[TextIndex]] and [[ModelStore]], after the
  * reference's single pluggable store (src/Core/Store.hs:41-119). The
  * operator writes its tables into a staged member; this store owns the
  * rest:
  *
  * {{{
  *   dir/.staging-…/            a member being written — no reader sees it
  *   dir/gen-N/ , dir/delta-N/  committed members (tables + meta.json)
  *   dir/_commit-N              "#format,<kind>,<n>" + the version's
  *                              COMPLETE member list
  * }}}
  *
  * A commit ([[graft.sources.KvCommitLog.commitMember]]) renames the
  * staged member, then publishes the manifest LAST with an atomic
  * no-clobber link: a crash leaves an orphan no manifest names, older
  * versions stay frozen, and `asOf` reads time-travel exactly. A read
  * refuses a manifest whose `#format` line is missing or names another
  * kind or version, so a member layout change (a bumped `format`) fails
  * loudly on old artifacts instead of mis-reading them.
  *
  * `noun` names the artifact in errors; `beforeCommit` runs after a
  * member is fully staged and before its manifest commits (the
  * operators' chaos hooks). */
final class MemberStore(kind: String, format: Int, noun: String,
    beforeCommit: () => Unit) {

  private val formatLine = s"#format,$kind,$format"

  private def base(dir: String): Path = Paths.get(dir)

  /** Latest committed version, 0 when none. */
  def latestVersion(dir: String): Int = KvCommitLog.latestVersion(base(dir))

  /** A fresh member name to stage under (creating `dir` if needed):
    * dot-hidden, so only a manifest ever makes it visible, and unique
    * per writer, so concurrent writers never share a directory. */
  def newStaging(dir: String): String = {
    Files.createDirectories(base(dir))
    s".staging-${System.nanoTime}-${Thread.currentThread.getId}"
  }

  /** Remove a staged member that must not commit, then throw `e`. */
  def reject(dir: String, staged: String, e: Exception): Nothing = {
    KvCommitLog.rmTree(base(dir).resolve(staged).toFile)
    throw e
  }

  /** Commit `staged` as a NEW generation `gen-N` — a full rebuild whose
    * manifest names only it. Returns the committed version. */
  def commitGeneration(dir: String, staged: String): Int =
    commit(dir, staged, v => s"gen-$v", name => Seq(name), None)

  /** Commit `staged` as `delta-N`: the manifest names the head's
    * members plus this one. On a lost race the head is re-read (OCC
    * rebase), so a concurrent delta is folded in, not lost. `onHead`
    * sees each head member list first and may throw to abort a rebase
    * that is not sound. Returns the committed version. */
  def commitDelta(dir: String, staged: String,
      onHead: Seq[String] => Unit = _ => ()): Int =
    commit(dir, staged, v => s"delta-$v", name => {
      val (head, _) = snapshot(dir, None)
      onHead(head)
      head :+ name
    }, None)

  /** Commit `staged`, derived from the snapshot at version `from`, as
    * `gen-(from+1)` naming only it — CAS: any commit after `from`
    * supersedes the derivation, so the commit deletes the staged member
    * and throws, and the caller re-runs. */
  def commitCompaction(dir: String, staged: String, from: Int): Int =
    commit(dir, staged, v => s"gen-$v", name => Seq(name), Some(from))

  private def commit(dir: String, staged: String, nameOf: Int => String,
      membersOf: String => Seq[String], expectedBase: Option[Int]): Int = {
    beforeCommit()
    KvCommitLog.commitMember(base(dir), staged, nameOf,
      (_, name) => formatLine +: membersOf(name), expectedBase)
  }

  /** (members, version) of the committed manifest at `asOf` (default
    * latest), format-checked. Manifests are read through the commit
    * log's immutable-metadata cache: a stat per read, not a parse. */
  def snapshot(dir: String, asOf: Option[Int]): (Seq[String], Int) = {
    val vs = KvCommitLog.versions(base(dir))
    require(vs.nonEmpty, s"no committed $noun at $dir " +
      "(an uncommitted member directory is not one)")
    val latest = vs.last._1
    val v = asOf.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"$noun version $v out of committed range [1, $latest] at $dir")
    val manifest = vs.collectFirst { case (`v`, p) => p }.getOrElse(
      throw new IllegalStateException(s"$noun manifest $v missing at $dir"))
    val (ctl, members) = KvCommitLog.linesOf(manifest).partition(_.startsWith("#"))
    val found = ctl.find(_.startsWith("#format,")).getOrElse("no format line")
    if (found != formatLine) throw new IllegalStateException(
      s"$noun manifest $v at $dir has '$found', expected '$formatLine': " +
        "it was written under another member layout — rebuild it")
    require(members.nonEmpty, s"$noun manifest $v at $dir is empty")
    (members, v)
  }

  /** Member directories named by the manifest at `asOf`. */
  def members(dir: String, asOf: Option[Int] = None): Seq[String] =
    snapshot(dir, asOf)._1

  /** Drop versions below `keepFrom` and delete the member directories
    * only they referenced. Returns the deleted names. */
  def vacuum(dir: String, keepFrom: Int): Seq[String] =
    KvCommitLog.vacuum(base(dir), keepFrom)

  /** Write `member`'s flat `meta.json` (numbers and booleans only). */
  def writeMeta(dir: String, member: String, fields: (String, Any)*): Unit =
    Files.writeString(base(dir).resolve(s"$member/meta.json"),
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")): Unit

  /** `member`'s `meta.json` fields as strings; a missing field throws. */
  def readMeta(dir: String, member: String): Map[String, String] = {
    val s = Files.readString(base(dir).resolve(s"$member/meta.json"))
    """"(\w+)":([^,}]+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap
      .withDefault(k => throw new IllegalStateException(
        s"$noun meta of $member at $dir missing '$k': $s"))
  }

  /** Does `member` hold `table`? */
  def has(dir: String, member: String, table: String): Boolean =
    Files.exists(base(dir).resolve(s"$member/$table"))

  /** Row count of `member`'s parquet `table`, summed from its footers on
    * the driver — O(files) metadata reads, no Spark job. */
  def rowCount(spark: SparkSession, dir: String, member: String,
      table: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/$member/$table")
    val it = root.getFileSystem(conf).listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  /** Byte-identical copy of `from`'s `table` into `to`, on the driver —
    * carries a committed driver-sized table forward without a Spark job. */
  def copyTable(dir: String, from: String, to: String, table: String): Unit = {
    def copy(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst)
      val s = Files.list(src)
      try s.forEach { c =>
        val t = dst.resolve(c.getFileName)
        if (Files.isDirectory(c)) copy(c, t)
        else Files.copy(c, t, StandardCopyOption.REPLACE_EXISTING): Unit
      } finally s.close()
    }
    copy(base(dir).resolve(s"$from/$table"), base(dir).resolve(s"$to/$table"))
  }

  /** `table` of every member in `members`, as one union. */
  def union(spark: SparkSession, dir: String, members: Seq[String],
      table: String): DataFrame =
    members.map(m => graft.core.Graft.cachedSchemaParquet(spark, s"$dir/$m/$table"))
      .reduce(_ unionAll _)

  /** `member`'s small single-part `table` collected to the driver as rows
    * of `cols`, parsed once per JVM per file identity through the
    * immutable-metadata cache (committed members are never rewritten).
    * A table not held in exactly one part file is read uncached. */
  def collectTable(spark: SparkSession, dir: String, member: String,
      table: String, cols: Seq[String]): Seq[Seq[Any]] = {
    val path = s"$dir/$member/$table"
    def readAll(): Seq[Seq[Any]] =
      spark.read.parquet(path).select(cols.map(col): _*)
        .collect().toSeq.map(r => cols.indices.map(r.get))
    val parts = {
      val s = Files.list(Paths.get(path))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    parts match {
      case Seq(one) => KvMetaCache.cached(one)(_ => readAll())
      case _ => readAll()
    }
  }
}
