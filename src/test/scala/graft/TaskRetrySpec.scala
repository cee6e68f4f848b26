package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** At-least-once retry differential — the Spark analog of the reference's
  * chaos TaskRunner: the 'Drop runner aborts a task with p=0.5
  * (/root/reference/src/ImplWorker.hs:82-96 throws DropException), the
  * scheduler re-enqueues the aborted context
  * (/root/reference/src/ImplServer.hs:86-90), and the test matrix asserts
  * the chaotic run still equals the clean one
  * (/root/reference/test/Test.hs:44-70).
  *
  * Spark's equivalent retry loop lives in the task scheduler
  * (TaskSetManager, bounded by maxFailures per task). In local mode it is
  * only enabled through the `local[N, F]` master form — the shared
  * fixture's plain local[4] runs with maxFailures=1 — so this suite owns
  * its session. The injection is strictly harsher than the reference's
  * coin flip: EVERY task of the injected stage throws on its first
  * attempt, so a single un-retried task would fail the job, and the
  * result must still be bit-identical to the clean run.
  */
object TaskRetrySpec {
  /** Count of injected aborts, so the test can prove chaos actually
    * fired (local mode shares the JVM, so a plain static works). */
  val aborts = new AtomicInteger(0)

  def dropFirstAttempt(): Unit = {
    val tc = TaskContext.get()
    if (tc.attemptNumber() == 0) {
      aborts.incrementAndGet()
      throw new RuntimeException(
        s"graft chaos: dropping partition ${tc.partitionId()} attempt 0")
    }
  }
}

class TaskRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // The forked test JVM runs suites sequentially against one shared
    // context; swap it for a retry-enabled one and restore on exit.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // maxFailures=2: one free retry per task
    spark = graft.core.Graft.session("local[4, 2]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    super.afterAll()
  }

  /** Exact-integer aggregate (quantity cents + row count per flag) so the
    * chaotic/clean comparison is bit-exact regardless of merge order. */
  private def aggregate(dfRows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType) = {
    spark.createDataFrame(dfRows, schema)
      .groupBy("l_returnflag")
      .agg(
        sum((col("l_quantity") * 100).cast("long")).as("qty_cents"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().toSeq
  }

  test("map-stage tasks that die on first attempt are retried; result equals clean run") {
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_quantity")
    val schema = base.schema

    val clean = aggregate(base.rdd, schema)

    TaskRetrySpec.aborts.set(0)
    val chaotic = aggregate(
      base.rdd.mapPartitions { it => TaskRetrySpec.dropFirstAttempt(); it },
      schema)

    assert(TaskRetrySpec.aborts.get() > 0, "chaos never fired — test is vacuous")
    assert(chaotic == clean,
      s"retried run diverged from clean run after ${TaskRetrySpec.aborts.get()} aborts")
  }

  test("reduce-stage retry refetches shuffle output; result equals clean run") {
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("k"),
        (col("l_quantity") * 100).cast("long").as("q"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))

    val clean = base.reduceByKey(_ + _).collect().sortBy(_._1).toSeq

    TaskRetrySpec.aborts.set(0)
    // The throw sits AFTER the shuffle boundary: the retried task must
    // refetch its shuffle partition from the map output (the analog of
    // the reference re-reading partition files from the Store on retry).
    val chaotic = base.reduceByKey(_ + _)
      .mapPartitions { it => TaskRetrySpec.dropFirstAttempt(); it }
      .collect().sortBy(_._1).toSeq

    assert(TaskRetrySpec.aborts.get() > 0, "chaos never fired — test is vacuous")
    assert(chaotic == clean, "reduce-stage retry diverged from clean run")
  }
}
