package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, TextIndex}
import graft.sources.KvCommitLog

/** Optimistic concurrency for the commit log and the artifact stores —
  * the multi-writer half of the Delta-style protocol the sequential
  * lifecycle specs take for granted. The invariant under test: a lost
  * race is always an EXPLICIT outcome (rebase, bump, or abort), never a
  * silently replaced manifest, a lost member, or a shared staging
  * directory.
  *
  *   - manifest publish is atomic create-if-absent: the loser sees
  *     `false`, the winner's content survives byte-for-byte;
  *   - delta appends REBASE: a manifest computed against a superseded
  *     member set is recomputed from the winner's, so a concurrent
  *     delta's member is folded in, not dropped;
  *   - compaction is CAS: its rewritten generation is derived from a
  *     pinned snapshot, so any commit landing in between aborts it;
  *   - an ANN delta whose index was RE-FIT concurrently aborts — its
  *     assignments/codes target the dead quantizer;
  *   - genuinely parallel delta writers all land, versions stay dense,
  *     and the converged artifact equals the one-shot build. */
class ConcurrentCommitSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  private def freshDir(tag: String): String =
    tempDir(s"${sys.props("java.io.tmpdir")}/graft_occ_spec/$tag-${System.nanoTime()}")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("manifest publish is atomic create-if-absent; append bumps past the loser") {
    val dir = Paths.get(freshDir("log"))
    Files.createDirectories(dir)
    assert(KvCommitLog.append(dir, Seq("a")) == 1)
    // a racer that computed version 1 concurrently loses explicitly...
    assert(!KvCommitLog.tryAppendAt(dir, 1, Seq("b")))
    // ...the winner's manifest is untouched...
    assert(Files.readString(dir.resolve("_commit-1")) == "a")
    // ...no staging temp leaks...
    assert(!Files.list(dir).toArray.map(_.toString).exists(_.contains(".tmp")))
    // ...and the delta-log append recovers by taking the next version
    assert(KvCommitLog.append(dir, Seq("b")) == 2)
    assert(KvCommitLog.filesAsOf(dir, 2) == Set("a", "b"))
  }

  test("a delta losing the race rebases onto the winner's members — nothing lost") {
    val dir = freshDir("rebase")
    TextIndex.build(docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", dir)
    val terms = Seq("hash", "join", "vector")

    // while writer A's delta (docs%4==1) sits staged-but-uncommitted,
    // writer B's delta (docs%4==2) commits — the exact window where the
    // pre-OCC code lost one of the two commits
    @volatile var fired = false
    TextIndex.chaosHook = () => {
      if (!fired) {
        fired = true
        TextIndex.chaosHook = () => ()
        TextIndex.appendDelta(
          docs.filter(col("doc_id") % 4 === 2), "doc_id", "text", dir)
      }
    }
    val vA = try TextIndex.appendDelta(
        docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", dir)
      finally TextIndex.chaosHook = () => ()

    // B took version 2; A rebased to 3 with B's member folded in
    assert(vA == 3)
    assert(TextIndex.latestVersion(dir) == 3)
    assert(TextIndex.members(dir).size == 3)
    assert(TextIndex.members(dir, Some(2)).size == 2) // B's version frozen

    // the rebased head scores exactly like a one-shot build on the union
    val oneShot = freshDir("rebase-oneshot")
    TextIndex.build(docs.filter(col("doc_id") % 4 <= 2), "doc_id", "text",
      oneShot)
    assert(rows(TextIndex.search(spark, dir, terms, 10))
      == rows(TextIndex.search(spark, oneShot, terms, 10)))
  }

  test("compaction is CAS: a commit landing after its snapshot aborts it") {
    val dir = freshDir("cas")
    TextIndex.build(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", dir)
    TextIndex.appendDelta(docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", dir)
    val terms = Seq("hash", "join", "vector")

    @volatile var fired = false
    TextIndex.chaosHook = () => {
      if (!fired) {
        fired = true
        TextIndex.chaosHook = () => ()
        TextIndex.appendDelta(
          docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", dir)
      }
    }
    val e = try intercept[IllegalStateException] {
        TextIndex.compact(spark, dir)
      } finally TextIndex.chaosHook = () => ()
    assert(e.getMessage.contains("concurrent commit"))

    // the concurrent delta is the head — nothing was lost to the
    // aborted compaction, which removed the member directory it claimed
    assert(TextIndex.latestVersion(dir) == 3)
    assert(TextIndex.members(dir).size == 3)
    val memberDirs = Files.list(Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    assert(memberDirs == TextIndex.members(dir).toSet,
      s"member directories the head manifest does not name: " +
        s"${memberDirs -- TextIndex.members(dir)}")
    val before = rows(TextIndex.search(spark, dir, terms, 10))
    // rerun against the new snapshot: collapses to one member, same scores
    assert(TextIndex.compact(spark, dir) == 4)
    assert(TextIndex.members(dir).size == 1)
    assert(rows(TextIndex.search(spark, dir, terms, 10)) == before)
  }

  test("an ANN delta aborts when the index was re-fit concurrently") {
    val dir = freshDir("refit")
    val seeds = (200L until 208L).toSeq
    AnnIndex.build(embs.filter(col("vec_id") < 300), "vec_id", "embedding",
      seeds, rounds = 2, dim = 64, dir)

    @volatile var fired = false
    AnnIndex.chaosHook = () => {
      if (!fired) {
        fired = true
        AnnIndex.chaosHook = () => ()
        // a concurrent RE-FIT (different corpus ⇒ different centroids)
        AnnIndex.build(embs.filter(col("vec_id") < 350), "vec_id",
          "embedding", seeds, rounds = 2, dim = 64, dir)
      }
    }
    val e = try intercept[IllegalArgumentException] {
        AnnIndex.appendDelta(
          embs.filter(col("vec_id").between(300, 349)),
          "vec_id", "embedding", dir)
      } finally AnnIndex.chaosHook = () => ()
    assert(e.getMessage.contains("re-fit concurrently"))
    // the re-fit generation is the intact head
    assert(AnnIndex.latestVersion(dir) == 2)
    assert(AnnIndex.members(dir) == Seq("gen-2"))
  }

  test("parallel delta writers all land: dense versions, one-shot-equal search") {
    val dir = freshDir("threads")
    TextIndex.build(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", dir)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        TextIndex.appendDelta(
          docs.filter(col("doc_id") % 5 === i), "doc_id", "text", dir): Unit
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())

    assert(TextIndex.latestVersion(dir) == 5)
    // dense manifest chain, no gaps, no lost member
    assert(KvCommitLog.versions(Paths.get(dir)).map(_._1) == (1 to 5))
    assert(TextIndex.members(dir).size == 5)

    val oneShot = freshDir("threads-oneshot")
    TextIndex.build(docs, "doc_id", "text", oneShot)
    val terms = Seq("hash", "join", "vector")
    assert(rows(TextIndex.search(spark, dir, terms, 10))
      == rows(TextIndex.search(spark, oneShot, terms, 10)))
  }
}
