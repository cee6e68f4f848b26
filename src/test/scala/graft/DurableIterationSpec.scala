package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness + restart-recovery evidence for
  * the `Fixpoint.Durable` round policy: the durable-round fixpoints must (a) be a
  * drop-in semantic match for their `localCheckpoint` twins, (b) resume
  * from the last committed round after a driver crash instead of
  * restarting from round 0, and (c) short-circuit idempotently once the
  * converged marker exists. Executor-LOSS recovery (the other half of
  * the durability claim) is proven separately on a real multi-process
  * cluster by DurableIterationKillSpec. */
class DurableIterationSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private def tmp(tag: String): String =
    tempDir(Files.createTempDirectory(s"graft_durable_$tag").toString)

  /** Random sparse graph: enough structure for several propagation
    * rounds (chains form), deterministic seed. */
  private def randomGraph(seed: Int, nVerts: Int, nEdges: Int) = {
    val rnd = new scala.util.Random(seed)
    val edges = (0 until nEdges)
      .map(_ => (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong))
    val verts = (0 until nVerts).map(_.toLong)
    (verts, edges)
  }

  test("durable components == in-memory components on a random graph") {
    import spark.implicits._
    val (v, e) = randomGraph(seed = 11, nVerts = 300, nEdges = 260)
    val verts = v.toDF("id")
    val edges = e.toDF("src", "dst")
    val expected = graft.operators.ConnectedComponents
      .components(verts, edges, 30)
      .orderBy("id").collect().toSeq
    val (labels, rounds, resumedFrom) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 30, graft.operators.Fixpoint.Durable(tmp("cc_diff")))
    assert(resumedFrom == 0 && rounds > 1)
    assert(labels.orderBy("id").collect().toSeq == expected,
      "durable min-label fixpoint diverged from the localCheckpoint twin")
  }

  test("driver crash mid-fixpoint: second invocation resumes, not restarts") {
    import spark.implicits._
    // a path graph needs one round per diameter unit — guarantees the
    // crash lands strictly mid-iteration
    val verts = (0L until 12L).toDF("id")
    val edges = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val dir = tmp("cc_crash")
    val boom = intercept[RuntimeException] {
      graft.operators.ConnectedComponents.componentsRun(
        verts, edges, 30, graft.operators.Fixpoint.Durable(dir,
        chaosHook = r => if (r == 3) throw new RuntimeException("injected driver crash")))
    }
    assert(boom.getMessage == "injected driver crash")
    // rounds 0..3 committed before the crash (hook fires at the TOP of
    // round 3's iteration, so round 3 is the last committed state)
    assert(graft.operators.Fixpoint.latestCommitted(spark, dir)
      .contains(3))
    val (labels, rounds, resumedFrom) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 30, graft.operators.Fixpoint.Durable(dir))
    assert(resumedFrom == 3, s"must resume from round 3, saw $resumedFrom")
    assert(rounds < 12, "resume must not redo the pre-crash rounds")
    assert(labels.agg(countDistinct(col("component"))).head.getLong(0) == 1L)
    assert(labels.agg(min("component"), max("component")).head ==
      org.apache.spark.sql.Row(0L, 0L))
  }

  test("converged marker makes a third invocation a zero-round no-op") {
    import spark.implicits._
    val verts = (0L until 6L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val dir = tmp("cc_idem")
    val (first, r1, _) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    val expected = first.orderBy("id").collect().toSeq
    val (again, r2, resumedFrom) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    assert(r1 > 0 && r2 == 0, "post-convergence re-entry must run no rounds")
    assert(resumedFrom > 0)
    assert(again.orderBy("id").collect().toSeq == expected)
  }

  test("crash in the converged-marker window: zero-length _CONVERGED " +
      "does not wedge the dir; the fixpoint resumes and completes") {
    import spark.implicits._
    val verts = (0L until 6L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val dir = tmp("cc_wedge")
    val (first, _, _) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    val expected = first.orderBy("id").collect().toSeq
    // simulate the old non-atomic create/write crash residue: an EMPTY
    // marker file (and, for good measure, a garbled one on second pass)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, "_CONVERGED")
    fs.create(marker, true).close() // zero-length
    val (again, r2, resumedFrom) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    assert(again.orderBy("id").collect().toSeq == expected,
      "empty marker must read as absent and the run must still complete")
    assert(r2 >= 0 && resumedFrom > 0, "must resume from committed rounds")
    val out = fs.create(marker, true)
    out.write("garbage!".getBytes("UTF-8")); out.close()
    val (third, _, _) = graft.operators.ConnectedComponents
      .componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    assert(third.orderBy("id").collect().toSeq == expected,
      "garbled marker must read as absent, not throw")
  }

  test("stray names in the checkpoint dir never abort resume") {
    import spark.implicits._
    val verts = (0L until 6L).toDF("id")
    val edges = Seq((0L, 1L), (2L, 3L)).toDF("src", "dst")
    val dir = tmp("cc_stray")
    graft.operators.ConnectedComponents.componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the shapes that used to throw NumberFormatException in .toInt
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "round_abc"))
    fs.create(new org.apache.hadoop.fs.Path(dir, "round_00001.tmp"), true).close()
    assert(graft.operators.Fixpoint.latestCommitted(spark, dir).isDefined)
  }

  test("commit detection is engine-owned, independent of Spark's _SUCCESS") {
    import spark.implicits._
    val verts = (0L until 4L).toDF("id")
    val edges = Seq((0L, 1L)).toDF("src", "dst")
    val dir = tmp("cc_nosuccess")
    graft.operators.ConnectedComponents.componentsRun(verts, edges, 20, graft.operators.Fixpoint.Durable(dir))
    val before = graft.operators.Fixpoint.latestCommitted(spark, dir)
    assert(before.isDefined)
    // a deployment with marksuccessfuljobs=false writes no _SUCCESS at
    // all — deleting them here must not change what counts as committed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory)
      .foreach { st =>
        fs.delete(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"), false)
      }
    assert(graft.operators.Fixpoint.latestCommitted(spark, dir) == before,
      "resume keys must not depend on _SUCCESS")
  }

  test("durable pagerank == in-memory fixpoint, and crash-resumes") {
    import spark.implicits._
    val (_, e) = randomGraph(seed = 23, nVerts = 80, nEdges = 200)
    val edges = e.toDF("src", "dst")
    val (expectedDf, _) = graft.queries.Advanced
      .integerPageRankFixpoint(edges, 5)
    val expected = expectedDf.orderBy("node").collect().toSeq

    val (ranks, rounds, resumedFrom) = graft.queries.Advanced
      .integerPageRankRun(edges, 5, graft.operators.Fixpoint.Durable(tmp("pr_diff")))
    assert(resumedFrom == 0 && rounds > 0)
    assert(ranks.orderBy("node").collect().toSeq == expected,
      "durable pagerank diverged from the localCheckpoint twin")

    val dir = tmp("pr_crash")
    intercept[RuntimeException] {
      graft.queries.Advanced.integerPageRankRun(
        edges, 5, graft.operators.Fixpoint.Durable(dir,
        chaosHook = r => if (r == 2) throw new RuntimeException("injected")))
    }
    val (ranks2, rounds2, resumed2) = graft.queries.Advanced
      .integerPageRankRun(edges, 5, graft.operators.Fixpoint.Durable(dir))
    assert(resumed2 == 2, s"must resume from round 2, saw $resumed2")
    assert(rounds2 <= 3)
    assert(ranks2.orderBy("node").collect().toSeq == expected,
      "crash-resumed pagerank diverged")
  }
}
