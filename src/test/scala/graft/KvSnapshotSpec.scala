package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** One store read by every shape: the batch scan, the stream's first
  * batch, the change feed from 0, the SQL row-level group scan,
  * `KvStore.candidates` and the net scan all plan through [[KvSnapshot]],
  * so over one store and one pushed filter they plan the same files,
  * each with the same deletion vectors. The store holds the four kinds
  * of file a reader must tell apart: one with a vector, one a later CoW
  * delete removed (still on disk), one without a sidecar, and a plain
  * one the filter prunes. */
class KvSnapshotSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val Ddl = "k LONG, v LONG"
  private val Schema = StructType.fromDDL(Ddl)
  private val Pushed: Array[Filter] = Array(LessThan("k", 250L))

  private def freshDir(tag: String): String =
    tempDir(Files.createTempDirectory(s"graft_kvsnap_$tag").toString)

  private def append(out: String, from: Long, until: Long, files: Int): Unit =
    spark.range(from, until).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(files, col("k"))
      .write.format("graft.sources.KvSinkProvider").option("path", out)
      .mode("append").save()

  private def live(dir: String): Seq[KvFilePartition] =
    KvSnapshot.at(dir, KvCommitLog.latestVersion(Paths.get(dir)))

  /** k in [0, 400) over four range files: [0,100) gets a vector,
    * [100,200) is rewritten by a CoW delete, [200,300) loses its
    * sidecar, [300,400) stays plain (and `k < 250` prunes it). Returns
    * the names of the four original files in that order. */
  private def fourKinds(store: String): Seq[String] = {
    append(store, 0, 400, files = 4)
    val original = live(store).map(_.name)
    KvStore.deleteWhereDV(spark, store, Schema,
      Seq(GreaterThanOrEqual("k", 10L), LessThan("k", 20L)))
    KvStore.deleteWhere(spark, store, Schema,
      Seq(GreaterThanOrEqual("k", 150L), LessThan("k", 160L)))
    Files.delete(Paths.get(store, KvZoneMap.sidecarName(original(2))))
    original
  }

  private def plan(b: ScanBuilder): Array[InputPartition] = {
    b.asInstanceOf[SupportsPushDownFilters].pushFilters(Pushed)
    b.build().toBatch.planInputPartitions()
  }

  private def builder(path: String, recursive: Boolean = false,
      changeFeed: Boolean = false) =
    new KvScanBuilder(path, Schema, "", recursive, changeFeed = changeFeed)

  /** The net scan's fields, each resolved the way the daemon's GET
    * resolves it: the file under `root` with its vectors at the version
    * the split carries. */
  private def netPlan(root: String): Seq[KvFilePartition] = {
    val port = KvDaemon.ensure(root)
    plan(builder(s"net://127.0.0.1:$port")).toSeq.map {
      case KvNetPartition(_, field, version) =>
        val f = new File(root, field)
        KvSnapshot.file(f.getParent, f.getName, version)
    }
  }

  private def files(parts: Array[InputPartition]): Seq[KvFilePartition] =
    parts.toSeq.map(_.asInstanceOf[KvFilePartition])

  test("every read shape plans the same files with the same vectors") {
    val store = freshDir("flat")
    val Seq(vectored, removed, statless, plain) = fourKinds(store)
    val head = KvCommitLog.latestVersion(Paths.get(store))

    val batch = files(plan(builder(store)))
    val stream = {
      val b = builder(store)
      b.asInstanceOf[SupportsPushDownFilters].pushFilters(Pushed)
      files(b.build().toMicroBatchStream(freshDir("ckpt"))
        .planInputPartitions(KvVersionOffset(0), KvVersionOffset(head)))
    }
    val feed = plan(builder(store, changeFeed = true)).toSeq.map {
      case KvCdfPartition(data, insert, version, only) =>
        assert(insert && version == head && !only)
        data
    }
    val group = files(plan(new KvRowLevelOperation(store, Schema, None,
      RowLevelOperation.Command.DELETE)
      .newScanBuilder(CaseInsensitiveStringMap.empty())))
    val candidates = KvStore.candidates(live(store), Pushed.toSeq)
    val net = netPlan(store)

    val names = batch.map(_.name)
    assert(names.contains(vectored) && names.contains(statless))
    assert(!names.contains(removed), "a CoW-removed file was planned")
    assert(!names.contains(plain), "the zone-map filter kept [300,400)")
    assert(names.size == 3, names) // + the CoW rewrite of [100,200)
    assert(new File(store, removed).isFile, "the removed file stays on disk")
    batch.foreach(f => assert(f.dvs.nonEmpty == (f.name == vectored), f))
    for ((shape, got) <- Seq("stream" -> stream, "change feed" -> feed,
        "group scan" -> group, "candidates" -> candidates, "net" -> net))
      assert(got == batch, s"$shape planned $got, the batch scan $batch")
  }

  test("the recursive layout applies each sub-store's own log and vectors") {
    val parent = freshDir("tree")
    val sub0 = s"$parent/batch=0"
    val sub1 = s"$parent/batch=1"
    fourKinds(sub0)
    // a second sub-store with its own remove line: a CoW delete empties
    // one of its two files
    append(sub1, 0, 200, files = 2)
    KvStore.deleteWhere(spark, sub1, Schema, Seq(LessThan("k", 100L)))
    assert(live(sub1).size == 1)

    val expected = (files(plan(builder(sub0))) ++ files(plan(builder(sub1))))
      .sortBy(_.file)
    assert(expected.size == 4)
    assert(files(plan(builder(parent, recursive = true))) == expected)
    assert(netPlan(parent) == expected)
    // unfiltered, the walk is each sub-store's live view at its head,
    // vectors included
    val heads = Seq(sub0, sub1).flatMap(d =>
      live(d).map(_ -> KvCommitLog.latestVersion(Paths.get(d))))
    assert(KvSnapshot.walk(parent, recursive = true) == heads.sortBy(_._1.file))
  }

  test("KvZonePrune.keeps is called only from KvSnapshot.scala") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter(p => Files.readString(p).contains("KvZonePrune.keeps"))
      .map(_.toString)
    assert(hits == Seq("src/main/scala/graft/sources/KvSnapshot.scala"), hits)
  }
}
