package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 kv sink's commit protocol (sources/KvSink) must deliver
  * exactly-once OUTPUT on top of at-least-once task EXECUTION — the
  * combination the reference gets from Store.hs partition files plus the
  * server's done-task registry. Runs under local[4,2] so task retries
  * are live (same session discipline as TaskRetrySpec). */
class KvSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = graft.core.Graft.session("local[4, 2]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft_kvsink").resolve("out").toString

  test("round trip: committed files hold exactly the written rows") {
    val out = freshDir()
    val df = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_nationkey").as("v"))
    df.write.format("graft.sources.KvSinkProvider")
      .option("path", out).mode("append").save()
    val back = spark.read.schema("k LONG, v LONG").csv(out)
    assert(back.count() === df.count())
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
  }

  test("exactly-once output under injected task retries") {
    val out = freshDir()
    val base = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_nationkey").as("v"))
    TaskRetrySpec.aborts.set(0)
    val schema = base.schema
    val chaotic = spark.createDataFrame(
      base.rdd.mapPartitions { it => TaskRetrySpec.dropFirstAttempt(); it },
      schema)
    chaotic.write.format("graft.sources.KvSinkProvider")
      .option("path", out).mode("append").save()
    assert(TaskRetrySpec.aborts.get() > 0, "chaos never fired — test is vacuous")
    // every row exactly once: retried attempts must not double-publish
    val back = spark.read.schema("k LONG, v LONG").csv(out)
    assert(back.count() === base.count(),
      "retried attempts leaked duplicate or missing rows into the sink")
    assert(back.exceptAll(base).count() === 0 && base.exceptAll(back).count() === 0)
  }

  test("a failing job publishes nothing") {
    val out = freshDir()
    val base = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_nationkey").as("v"))
    val poisoned = base.select(col("k"),
      when(col("v") >= 0, col("v"))
        .otherwise(col("v")).as("v"))
      .filter(
        // udf that always throws at execution, surviving both attempts
        udf((_: Long) => {
          throw new RuntimeException("graft chaos: poisoned row")
          true
        }).apply(col("k")))
    intercept[Exception] {
      poisoned.write.format("graft.sources.KvSinkProvider")
        .option("path", out).mode("append").save()
    }
    val dirF = new java.io.File(out)
    val committed = Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(committed.isEmpty,
      s"aborted job left committed files: ${committed.map(_.getName).mkString(", ")}")
  }

  test("abort discards this write's staged files, a straggler's included") {
    val out = freshDir()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k LONG, v LONG")
    def stage(w: graft.sources.KvBatchWrite, part: Int) = {
      val dw = w.createBatchWriterFactory(null).createWriter(part, part.toLong)
      dw.write(org.apache.spark.sql.catalyst.InternalRow(part.toLong, 1L))
      dw.commit()
    }
    val failed = new graft.sources.KvBatchWrite(out, schema)
    val other = new graft.sources.KvBatchWrite(out, schema)
    val reported = stage(failed, 0)
    stage(failed, 1) // committed after its job failed: no message reaches abort
    stage(other, 2) // a concurrent write into the same store
    failed.abort(Array(reported))
    val left = new java.io.File(out, "_staging").listFiles().map(_.getName).toSeq
    assert(left.size == 1 && left.head.startsWith("part-2-2-"), left.mkString(", "))
  }
}
