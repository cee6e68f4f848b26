package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, RowLevelOperation}
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{KvBatchWrite, KvCommitLog, KvRowLevelOperation, KvStore, KvZoneMap}

/** The KV store's one commit path (sources/KvSink `KvCommitLog.publish`
  * and `KvZoneAcc`):
  *
  *  - a SQL row-level rewrite is the sink's own batch write, so its abort
  *    also sweeps a straggler task's staged file;
  *  - a copy-on-write rewrite and a sink write accumulate sidecars with
  *    one accumulator, so their statistics agree field by field;
  *  - KvStore and KvRowLevel reach the manifest only through `publish`
  *    and keep no statistics of their own.
  */
class KvCommitPathSpec extends AnyFunSuite with SparkSessionFixture {

  private val roots = scala.collection.mutable.ArrayBuffer.empty[File]

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_kvcommit_$tag").toFile
    roots += d
    new File(d, "store").getAbsolutePath
  }

  override def afterAll(): Unit = {
    roots.foreach(KvCommitLog.rmTree)
    super.afterAll()
  }

  private def kv(out: String) = spark.read.format("graft.sources.KvSourceProvider")
    .option("path", out)

  test("row-level abort discards this write's staged files, a straggler's included") {
    val out = freshDir("rowlevel")
    val schema = StructType.fromDDL("k LONG, v LONG")
    spark.range(0, 10).selectExpr("id AS k", "id AS v").coalesce(1)
      .write.format("graft.sources.KvSinkProvider")
      .option("path", out).mode("append").save()
    val op = new KvRowLevelOperation(out, schema, None,
      RowLevelOperation.Command.UPDATE)
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = "straggler"
      override def schema(): StructType = StructType.fromDDL("k LONG, v LONG")
    }
    def stage(w: BatchWrite, part: Int) = {
      val dw = w.createBatchWriterFactory(null).createWriter(part, part.toLong)
      dw.write(InternalRow(part.toLong, 1L))
      dw.commit()
    }
    val failed = op.newWriteBuilder(info).build().toBatch
    val other = new KvBatchWrite(out, schema)
    val reported = stage(failed, 0)
    stage(failed, 1) // committed after its job failed: no message reaches abort
    stage(other, 2) // a concurrent write into the same store
    failed.abort(Array(reported))
    val left = new File(out, "_staging").listFiles().map(_.getName).toSeq
    assert(left.size == 1 && left.head.startsWith("part-2-2-"), left.mkString(", "))
  }

  test("a copy-on-write rewrite's sidecar equals a fresh sink write's of the kept rows") {
    val schema = StructType.fromDDL(
      "k BIGINT, i INT, d DOUBLE, e DOUBLE, s STRING, big BIGINT")
    val nan = Double.NaN
    val rows = Seq(
      Row(0L, 1, -0.0, -0.0, "a😀", Long.MaxValue),
      Row(1L, null, nan, 3.0, "😀z", Long.MaxValue),
      Row(2L, 5, null, null, null, null),
      Row(3L, -7, 9.5, 99.0, "￿", 1L), // the deleted row
      Row(null, 3, 0.0, 0.5, "é", -5L),
      Row(5L, Int.MaxValue, -2.5, 0.0, "𝒳", 7L))
    def write(df: org.apache.spark.sql.DataFrame, out: String): Unit =
      df.coalesce(1).write.format("graft.sources.KvSinkProvider")
        .option("path", out).option("bloomColumns", "k,s")
        .mode("append").save()
    val rewritten = freshDir("cow")
    write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      schema), rewritten)
    val m = KvStore.deleteWhere(spark, rewritten, schema, Seq(EqualTo("k", 3L)))
    assert(m.rewritten == 1 && m.rowsDeleted == 1, m.toString)
    val fresh = freshDir("fresh")
    write(kv(rewritten).option("schema", schema.toDDL).load(), fresh)

    def stats(out: String) = {
      val live = KvCommitLog.liveFiles(Paths.get(out)).toSeq
      assert(live.size == 1, live.mkString(", "))
      KvZoneMap.read(new File(out, live.head)).get
    }
    val (a, b) = (stats(rewritten), stats(fresh))
    assert(a.rows == 5 && a.rows == b.rows)
    assert(a.cols == b.cols)
    // bounds compared as written, so -0.0 and 0.0 stay distinct
    def text(m: Map[String, (Double, Double)]) =
      m.map { case (c, (mn, mx)) => c -> (mn.toString, mx.toString) }
    assert(text(a.dcols) == text(b.dcols) &&
      text(a.dcols) == Map("e" -> ("0.0", "3.0")))
    assert(a.scols == b.scols)
    assert(a.sums == b.sums && !a.sums.contains("big"))
    assert(a.nulls == b.nulls && a.nulls.values.forall(_ == 1L))
    def bits(m: Map[String, graft.sources.KvBloom.Bloom]) =
      m.map { case (c, f) => c -> (f.k, f.m, f.bits.toSeq) }
    assert(bits(a.blooms) == bits(b.blooms) && a.blooms.keySet == Set("k", "s"))
  }

  test("KvStore and KvRowLevel commit only through publish and keep no statistics") {
    def src(f: String) =
      Files.readString(Paths.get(s"src/main/scala/graft/sources/$f"))
    for (f <- Seq("KvStore.scala", "KvRowLevel.scala");
         word <- Seq("tryAppendAt", "tryReplaceAt", "tryAttachDvsAt",
           "superseded the version"))
      assert(!src(f).contains(word), s"$f names $word")
    assert("class \\w*BatchWrite".r.findFirstIn(src("KvRowLevel.scala")).isEmpty)
    val store = src("KvStore.scala")
    for (word <- Seq("Array.fill", "addExact", "HashAcc", "cpCompare"))
      assert(!store.contains(word), s"KvStore.scala names $word")
  }
}
