package graft.sources

import java.nio.file.{Files, Path}

/** DELETION VECTORS for the KV store — merge-on-read row-level DELETE.
  *
  * The copy-on-write path ([[KvStore.deleteWhere]]) rewrites every file
  * a predicate touches: deleting 1 row from a 1 GB file costs a 1 GB
  * write. At 100 TB that write amplification is the difference between
  * a metadata-sized GDPR delete and a day of I/O. A deletion vector
  * inverts the cost: the data file stays byte-identical on disk and a
  * tiny immutable sidecar lists the ORDINALS (0-based physical line
  * numbers) of the rows now deleted; every reader subtracts them on the
  * fly, and compaction / [[KvStore.purgeDvs]] materializes them away.
  * The Delta Lake / Iceberg v2 "position delete" discipline, expressed
  * in this store's own commit-log grammar:
  *
  *  - **manifest line** `#dv,<dataFile>,<dvFile>` attaches vector
  *    `dvFile` to live file `dataFile` at that version. A later REMOVE
  *    of the data file (CoW rewrite, overwrite, compaction) drops its
  *    attachments with it — vectors never outlive their file in the
  *    live state, and [[KvCommitLog.vacuumDelta]] reclaims unreferenced
  *    vector files like any other unreachable entry.
  *  - **vectors are immutable and disjoint**: a second DELETE on the
  *    same file writes a NEW vector containing only ordinals not yet
  *    deleted (the writer reads existing vectors first), so the live
  *    ordinal-set of a file is the plain union and per-vector counts
  *    add. Served through [[KvMetaCache]] — a vector parses once per
  *    JVM, then answers from memory.
  *  - **readers**: every scan shape (plain, grouped, aggregate-pushed,
  *    change-feed, streaming snapshot, row-level-op group scan, daemon
  *    GET) skips attached ordinals, through [[KvSnapshot]] — the one
  *    module that resolves a file's vectors and opens its lines; zone-map pruning stays sound
  *    unchanged (stats describe a SUPERSET of the live rows — a file
  *    that cannot match still cannot match), while stats-ANSWERED
  *    aggregates and exact plan row counts account for the vectors
  *    explicitly (parse fallback / subtraction — never a stale answer).
  *  - **change feed**: a DV commit feeds EXACTLY the newly-deleted rows
  *    as delete events — finer than the CoW grain (which replays whole
  *    rewritten files); a remove of a DV'd file feeds only its still-
  *    live rows, so the multiset fold stays exact and nothing is
  *    deleted twice.
  *
  * File format: ascending decimal ordinals, one per line — small by
  * construction (∝ rows deleted in this file by this commit), and
  * mergeable by a linear pass. Reference anchor: the Store's in-place
  * field overwrite (/root/reference/src/Core/Store.hs:41-67) is the
  * mutability this store versioned; deletion vectors are the second
  * mutation representation, chosen when rewrite cost — not read cost —
  * dominates. */
object KvDv {
  /** Vector file suffix; never matches a data scan's suffix pattern and
    * never appears as a manifest ADD line, so no read path can mistake a
    * vector for data. */
  val Suffix = ".dv"

  def name(nonce: String, i: Int): String = s"dv-$nonce-$i$Suffix"

  /** Write `ordinals` (ascending, distinct) to `path` — the caller moves
    * or publishes it; vectors are immutable once a manifest names them. */
  def write(path: Path, ordinals: Array[Long]): Unit = {
    val sb = new java.lang.StringBuilder(ordinals.length * 8)
    var i = 0
    while (i < ordinals.length) {
      require(i == 0 || ordinals(i) > ordinals(i - 1),
        s"graft dv: ordinals must be ascending and distinct at $path")
      sb.append(ordinals(i)).append('\n')
      i += 1
    }
    Files.write(path, sb.toString.getBytes("UTF-8")): Unit
  }

  /** Parse one vector (cached — vectors are immutable once published). */
  def read(path: Path): Array[Long] =
    KvMetaCache.cached(path) { p =>
      Files.readAllLines(p).toArray(Array.empty[String])
        .filter(_.nonEmpty).map(_.toLong)
    }

  /** Sorted union of several vectors' ordinals. Vectors attached to one
    * file are disjoint by construction (the writer skips already-deleted
    * ordinals), so this is a k-way merge of disjoint sorted runs. */
  def merged(paths: Seq[Path]): Array[Long] = paths match {
    case Seq() => Array.emptyLongArray
    case Seq(one) => read(one)
    case many =>
      val all = many.flatMap(read(_)).toArray
      java.util.Arrays.sort(all)
      all
  }

  /** Total deleted-ordinal count across `paths` (disjointness makes the
    * per-vector counts additive). */
  def count(paths: Seq[Path]): Long = paths.map(read(_).length.toLong).sum

  /** Sequential membership cursor: `deleted(ord)` must be called with
    * non-decreasing ordinals (the read order of every line reader here),
    * making the whole-file check O(lines + deleted). */
  final class Cursor(sorted: Array[Long]) {
    private var i = 0
    def deleted(ord: Long): Boolean = {
      while (i < sorted.length && sorted(i) < ord) i += 1
      i < sorted.length && sorted(i) == ord
    }
  }

  /** Wrap a physical-line iterator, keeping only live lines (`only =
    * false`) or only deleted lines (`only = true` — the change feed's
    * precise delete events). Ordinals are PHYSICAL line numbers from 0,
    * counted before any empty-line or predicate filtering. */
  def filterLines(lines: Iterator[String], dvs: Seq[Path],
      only: Boolean = false): Iterator[String] =
    if (dvs.isEmpty && !only) lines
    else {
      val cur = new Cursor(merged(dvs))
      var ord = -1L
      lines.filter { _ => ord += 1; cur.deleted(ord) == only }
    }
}
