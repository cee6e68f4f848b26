package graft.sources

import java.io.File
import java.nio.file.Paths

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources.Filter

/** One planned data file: its absolute path and the absolute paths of
  * the deletion vectors ([[KvDv]]) live on it in the planned snapshot.
  * A split by itself, and the unit every other split is made of. */
case class KvFilePartition(file: String, dvs: Seq[String] = Nil)
    extends InputPartition {
  def name: String = new File(file).getName
  /** The file's committed zone-map sidecar (None without one). */
  def stats: Option[KvZoneMap.Stats] = KvZoneMap.read(new File(file))
}

/** The one READ path under the KV store: every read — batch scan, net
  * scan and the daemon serving it, stream, change feed, SQL row-level
  * group scan, the [[KvStore]] verbs and `table_files` — plans and opens
  * its files here.
  *
  *  - **the snapshot** ([[at]], [[walk]]): one [[KvCommitLog.stateAsOf]]
  *    fold per directory gives the live names and each file's vectors,
  *    mapped to absolute paths here and nowhere else, so no reader can
  *    pair a file of one version with the vectors of another;
  *  - **the zone-map filter** ([[keeps]]): a file is dropped only when
  *    its sidecar proves no row can match;
  *  - **the line source** ([[lines]]): a file's lines with its vectors
  *    applied, closed when they run out.
  *
  * Reference anchor: the reference reads all shuffle data through one
  * `Store` interface per backend (its `src/Core/Store.hs:41-119`). */
object KvSnapshot {

  /** `name` in `dir` with its vectors `vecs` (names in `dir`). */
  def entry(dir: String, name: String, vecs: Seq[String] = Nil): KvFilePartition =
    KvFilePartition(new File(dir, name).getAbsolutePath,
      vecs.map(v => new File(dir, v).getAbsolutePath))

  /** The live files of the committed store `dir` at `version`, sorted,
    * with their vectors — one fold of its log. */
  def at(dir: String, version: Int): Seq[KvFilePartition] = {
    val (live, dvs) = KvCommitLog.stateAsOf(Paths.get(dir), version)
    live.toSeq.sorted.map(n => entry(dir, n, dvs.getOrElse(n, Nil)))
  }

  /** File `name` of `dir` with the vectors live on it at `version`
    * (fails loudly when that version was vacuumed). */
  def file(dir: String, name: String, version: Int): KvFilePartition =
    entry(dir, name,
      KvCommitLog.dvsAsOf(Paths.get(dir), version).getOrElse(name, Nil))

  /** The tree walk, for log-less directories and the recursive layout
    * (`root/batch=N/…`): the visible (not underscore- or dot-prefixed)
    * files of `root`, and of every visible subdirectory when
    * `recursive`. A directory with a commit log contributes only its
    * live files, with their vectors, from one fold of ITS log at its
    * latest version — a sub-store's remove lines and vectors hold
    * through a parent read. Each file comes with that version (0 for a
    * log-less directory); sorted by path. */
  def walk(root: String, recursive: Boolean): Seq[(KvFilePartition, Int)] = {
    def visible(f: File) =
      !f.getName.startsWith("_") && !f.getName.startsWith(".")
    def dir(d: File): Seq[(KvFilePartition, Int)] = {
      val v = KvCommitLog.latestVersion(d.toPath)
      val (live, dvs): (String => Boolean, Map[String, Seq[String]]) =
        if (v > 0) KvCommitLog.stateAsOf(d.toPath, v) else (_ => true, Map.empty)
      Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(visible)
        .flatMap { f =>
          if (f.isFile) {
            if (live(f.getName))
              Seq(entry(d.getPath, f.getName, dvs.getOrElse(f.getName, Nil)) -> v)
            else Nil
          } else if (recursive && f.isDirectory) dir(f)
          else Nil
        }
    }
    dir(new File(root)).sortBy(_._1.file)
  }

  /** The zone-map filter: false only when `stats` — a file's sidecar,
    * read locally or served by the daemon — prove that no row matches
    * the pushed filters and runtime join keys. A file with no stats is
    * always kept. Vector-carrying files' stats describe a superset of
    * their live rows, so "cannot match" stays proven. */
  def keeps(stats: Option[KvZoneMap.Stats], pushed: Seq[Filter],
      runtimeKeys: Map[String, Set[Long]] = Map.empty): Boolean =
    stats.forall(KvZonePrune.keeps(_, pushed, runtimeKeys))

  /** The line source: `f`'s physical lines minus those its vectors
    * delete — or, with `only`, just those (the change feed's delete
    * events). The file closes when the lines run out, or on `close()`
    * for an abandoned read. */
  def lines(f: KvFilePartition, only: Boolean = false)
      : Iterator[String] with AutoCloseable = new Iterator[String] with AutoCloseable {
    private val src = scala.io.Source.fromFile(f.file, "UTF-8")
    private val it =
      try KvDv.filterLines(src.getLines(), f.dvs.map(Paths.get(_)), only)
      catch { case e: Throwable => src.close(); throw e }
    override def hasNext: Boolean = {
      val h = it.hasNext
      if (!h) close()
      h
    }
    override def next(): String = it.next()
    override def close(): Unit = src.close()
  }
}
