package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.QueryProfile
import graft.operators.{ConnectedComponents, Fixpoint, KMeansQuant}
import graft.queries.Advanced

/** The shared round driver under connected components, the PageRank
  * fixpoint and k-means: what its two policies cost and what they leave
  * behind.
  *
  *   - Under [[Fixpoint.Local]], one run of each algorithm on a fixed
  *     small input launches no more Spark jobs than the hand-written
  *     loops it replaced (their counts, measured with
  *     [[QueryProfile]], are the bounds below). k-means' centroid table is
  *     driver-side state, so no round spends a job materializing it.
  *   - Under [[Fixpoint.Durable]], storage is O(1) rounds: a converged
  *     checkpoint dir holds exactly one `round_*` directory, the run's
  *     static inputs and `_CONVERGED`. */
class FixpointSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val dim = 4

  private def pathGraph = {
    val s = spark; import s.implicits._
    ((0L until 10L).toDF("id"), (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst"))
  }

  private def cycleEdges = {
    val s = spark; import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
  }

  private def blobs: (DataFrame, Seq[Seq[Long]]) = {
    val s = spark; import s.implicits._
    val data = (0L until 30L).map(i =>
      (i, Seq.tabulate(dim)(d => (i % 5) * 0.2f + d * 0.01f)))
      .toDF("vec_id", "embedding")
      .withColumn("qv", KMeansQuant.quantize(col("embedding")))
    val init = data.filter(col("vec_id") < 3).orderBy("vec_id")
      .select("qv").as[Seq[Long]].collect().toSeq
    (data, init)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int =
    QueryProfile.measure(spark, "fixpoint run")(body)._2.jobs

  test("Local runs launch no more jobs than the loops they replaced") {
    val (verts, edges) = pathGraph
    val pedges = cycleEdges
    val (data, init) = blobs
    val cc = jobsOf { ConnectedComponents.components(verts, edges, 20); () }
    val pr = jobsOf { Advanced.integerPageRankFixpoint(pedges, 6); () }
    val km = jobsOf { KMeansQuant.fit(spark, data, "qv", init, 4, dim); () }
    info(s"Spark jobs: components $cc, pagerank fixpoint $pr, k-means fit $km")
    // the hand-written loops on these inputs: 33, 37 and 6 jobs
    assert(cc <= 33, s"components: $cc jobs")
    assert(pr <= 37, s"pagerank fixpoint: $pr jobs")
    assert(km <= 6, s"k-means fit: $km jobs")
  }

  private def entries(dir: String): Set[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filterNot(_.startsWith(".")) // checksum sidecars of the local FS
      .toSet

  private def roundsOnly(names: Set[String]): Set[String] =
    names.filter(_.startsWith("round_"))

  test("a converged Durable dir holds one round, its inputs and _CONVERGED") {
    val (verts, edges) = pathGraph
    val ccDir = tempDir(Files.createTempDirectory("graft_fixpoint_cc").toString)
    val (_, ccRounds, _) = ConnectedComponents.componentsRun(
      verts, edges, 20, Fixpoint.Durable(ccDir))
    assert(ccRounds > 2)
    val cc = entries(ccDir)
    assert(roundsOnly(cc).size == 1, s"components dir: $cc")
    assert(cc -- roundsOnly(cc) == Set("sym", "_CONVERGED"), s"components dir: $cc")

    // a directed cycle is stable after one round: a converged PageRank run
    val s = spark; import s.implicits._
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
    val prDir = tempDir(Files.createTempDirectory("graft_fixpoint_pr").toString)
    Advanced.integerPageRankRun(cycle, 10, Fixpoint.Durable(prDir))
    val pr = entries(prDir)
    assert(roundsOnly(pr).size == 1, s"pagerank dir: $pr")
    assert(pr -- roundsOnly(pr) == Set("edges", "nodes", "_CONVERGED"), s"pagerank dir: $pr")

    val (data, init) = blobs
    val kmDir = tempDir(Files.createTempDirectory("graft_fixpoint_km").toString)
    KMeansQuant.fitRun(spark, data, "qv", init, 4, dim, Fixpoint.Durable(kmDir))
    val km = entries(kmDir)
    assert(roundsOnly(km) == Set("round_00003"), s"k-means dir: $km")
    assert(km -- roundsOnly(km) == Set("_CONVERGED"), s"k-means dir: $km")
  }
}
