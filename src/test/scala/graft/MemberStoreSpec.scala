package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, ModelStore, TextIndex}

/** The shared member-store protocol under the persisted artifacts:
  * every manifest carries its store's `#format,<kind>,<n>` line, and a
  * read refuses a manifest whose line is missing (a legacy artifact) or
  * names another kind or version — an artifact written under another
  * member layout fails loudly instead of mis-reading. */
class MemberStoreSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private def docs = {
    import spark.implicits._
    (1L to 40L).map(i => (i, if (i % 2 == 0) "en" else "de",
      s"hash join word$i vector")).toDF("doc_id", "lang", "text")
  }

  private def vectors = {
    import spark.implicits._
    (1L to 32L).map(i => (i, (0 until 64).map(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def freshDir(tag: String): String =
    tempDir(s"${sys.props("java.io.tmpdir")}/graft_member_spec/$tag-${System.nanoTime()}")

  /** A copy of `dir`'s member directories under a fresh path, published
    * by one hand-written manifest (fresh path: no cached manifest). */
  private def republish(dir: String, manifest: Seq[String]): String = {
    val out = Paths.get(freshDir("republished"))
    val src = Paths.get(dir)
    val walk = Files.walk(src)
    try walk.iterator().asScala.toList.foreach { p =>
      val rel = src.relativize(p)
      if (!rel.toString.startsWith("_commit-")) {
        val t = out.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    } finally walk.close()
    Files.writeString(out.resolve("_commit-1"), manifest.mkString("\n"))
    out.toString
  }

  /** `dir` holds one committed generation under `expected`; `read`
    * accepts it and refuses the same members under a manifest with no
    * format line, another version or another kind. */
  private def checkFormat(dir: String, expected: String,
      read: String => Any): Unit = {
    val kind = expected.split(",")(1)
    val manifest: Path = Paths.get(dir, "_commit-1")
    assert(Files.readAllLines(manifest).asScala.contains(expected))
    read(dir)
    for (bad <- Seq(None, Some(s"#format,$kind,99"),
        Some(s"#format,other-$kind,1"))) {
      val e = intercept[IllegalStateException] {
        read(republish(dir, bad.toSeq :+ "gen-1"))
      }
      val found = bad.getOrElse("no format line")
      assert(e.getMessage.contains(s"'$found'") &&
        e.getMessage.contains(s"'$expected'"), e.getMessage)
    }
  }

  test("ModelStore refuses a legacy manifest and another format version") {
    val dir = freshDir("model")
    ModelStore.train(docs, "lang", "text", dir)
    assert(ModelStore.members(dir) == Seq("gen-1"))
    checkFormat(dir, "#format,model,2",
      d => ModelStore.score(docs, "doc_id", "text", d).collect())
  }

  test("TextIndex refuses a legacy manifest and another format version") {
    val dir = freshDir("text")
    TextIndex.build(docs, "doc_id", "text", dir)
    assert(TextIndex.members(dir) == Seq("gen-1"))
    checkFormat(dir, "#format,text,1",
      d => TextIndex.search(spark, d, Seq("hash", "join"), 5).collect())
  }

  test("AnnIndex refuses a legacy manifest and another format version") {
    val dir = freshDir("ann")
    AnnIndex.build(vectors, "vec_id", "embedding", (1L to 4L).toSeq,
      rounds = 1, dim = 64, dir)
    assert(AnnIndex.members(dir) == Seq("gen-1"))
    checkFormat(dir, "#format,ann,1",
      d => AnnIndex.probe(vectors.limit(2), d, "vec_id", "embedding",
        nprobe = 1, topK = 3).collect())
  }

  test("AnnIndex, TextIndex and ModelStore reach files only through MemberStore") {
    for (op <- Seq("AnnIndex", "TextIndex", "ModelStore")) {
      val src = Files.readString(
        Paths.get(s"src/main/scala/graft/operators/$op.scala"))
      assert(!src.contains("java.nio.file"), s"$op uses java.nio.file")
      assert(!src.contains("KvCommitLog"), s"$op uses KvCommitLog")
    }
  }
}
