package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.KMeansQuant
import graft.functions.VecOps

/** Integer-exact Lloyd k-means: hand-computed fixtures (assignment,
  * quantized-mean update, lowest-cid tie-break, empty-cluster carryover)
  * plus a ScalaCheck differential against a Scala-collections Lloyd
  * implementation over random corpora/seeds — the reference's
  * naive-evaluator discipline (MapReduceC.hs:51-69). */
class KMeansSpec extends AnyFunSuite with SparkSessionFixture with TempDirs {

  private val dim = 4

  private def quantizeLocal(v: Seq[Float]): Seq[Long] =
    v.map(x => VecOps.qround(x.toDouble * KMeansQuant.Scale))

  private def l2qLocal(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Collections Lloyd, identical arithmetic contract. */
  private def fitLocal(data: Seq[(Long, Seq[Long])], init: Seq[Seq[Long]],
      rounds: Int): (Map[Long, (Long, Long)], Seq[Seq[Long]]) = {
    var cents = init
    def assign() = data.map { case (id, qv) =>
      val dists = cents.map(c => l2qLocal(qv, c))
      val best = dists.min
      id -> (dists.indexOf(best).toLong, best)
    }.toMap
    for (_ <- 1 until rounds) {
      val a = assign()
      val byC = data.groupBy { case (id, _) => a(id)._1 }
      cents = cents.indices.map { c =>
        byC.get(c.toLong) match {
          case Some(members) =>
            (0 until dim).map { i =>
              val s = members.map(_._2(i)).sum
              VecOps.qround(s.toDouble / members.size)
            }
          case None => cents(c)
        }
      }
    }
    (assign(), cents)
  }

  private def fitSpark(data: Seq[(Long, Seq[Float])], init: Seq[Seq[Long]],
      rounds: Int): (Map[Long, (Long, Long)], Seq[Seq[Long]]) = {
    val s = spark
    import s.implicits._
    val df = data.toDF("vec_id", "embedding")
      .withColumn("qv", KMeansQuant.quantize(col("embedding")))
    val (assigned, cents) = KMeansQuant.fit(s, df, "qv", init, rounds, dim)
    val m = assigned.select("vec_id", "cluster", "distq")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (m, cents)
  }

  test("two blobs separate and centroids land on quantized means") {
    val a = Seq[Float](0.1f, 0.1f, 0f, 0f)
    val b = Seq[Float](0.9f, 0.9f, 0f, 0f)
    val data = Seq(
      0L -> a, 1L -> a.map(_ + 0.02f), 2L -> a.map(_ - 0.02f),
      3L -> b, 4L -> b.map(_ + 0.02f), 5L -> b.map(_ - 0.02f))
    val init = Seq(quantizeLocal(data(0)._2), quantizeLocal(data(3)._2))
    val (got, cents) = fitSpark(data, init, rounds = 2)
    assert((0L to 2L).forall(got(_)._1 == 0L))
    assert((3L to 5L).forall(got(_)._1 == 1L))
    // centroid 0 = qround(mean of the three quantized a-vectors), per dim
    val qa = data.take(3).map(p => quantizeLocal(p._2))
    val want = (0 until dim).map(i => VecOps.qround(qa.map(_(i)).sum.toDouble / 3))
    assert(cents(0) == want)
  }

  test("exact distance tie breaks to the lowest centroid id") {
    // point at exactly 0.5: equidistant (integer-exactly) from 0.4 and 0.6
    val p = Seq[Float](0.5f, 0f, 0f, 0f)
    val init = Seq(quantizeLocal(Seq(0.6f, 0f, 0f, 0f)),
      quantizeLocal(Seq(0.4f, 0f, 0f, 0f)))
    val (got, _) = fitSpark(Seq(10L -> p), init, rounds = 1)
    assert(got(10L)._1 == 0L)
  }

  test("empty cluster keeps its prior centroid") {
    val pts = Seq(0L -> Seq[Float](0.1f, 0f, 0f, 0f),
      1L -> Seq[Float](0.12f, 0f, 0f, 0f))
    val far = quantizeLocal(Seq(9f, 9f, 9f, 9f))
    val init = Seq(quantizeLocal(pts.head._2), far)
    val (_, cents) = fitSpark(pts, init, rounds = 3)
    assert(cents(1) == far)
  }

  test("ScalaCheck differential vs collections Lloyd") {
    val genVec = Gen.listOfN(dim, Gen.chooseNum(-1000, 1000).map(_ / 1000.0f))
    val genData = for {
      n <- Gen.chooseNum(4, 24)
      vs <- Gen.listOfN(n, genVec)
    } yield vs.zipWithIndex.map { case (v, i) => i.toLong -> v.toSeq }
    val prop = Prop.forAll(genData, Gen.chooseNum(1, 3), Gen.chooseNum(1, 3)) {
      (data, k0, rounds) =>
        val k = math.min(k0, data.size)
        val init = data.take(k).map(p => quantizeLocal(p._2))
        val (sp, spC) = fitSpark(data, init, rounds)
        val (lo, loC) = fitLocal(data.map(p => p._1 -> quantizeLocal(p._2)), init, rounds)
        sp == lo && spC == loC
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("durable k-means == in-memory fit, and crash-resumes") {
    val s = spark
    import s.implicits._
    val data = (0L until 30L).map(i =>
      (i, Seq.tabulate(dim)(d => ((i % 5) * 0.2f + d * 0.01f))))
      .toDF("vec_id", "embedding")
      .withColumn("qv", KMeansQuant.quantize(col("embedding")))
    val init = (0L until 3L).map(i =>
      quantizeLocal(Seq.tabulate(dim)(d => ((i % 5) * 0.2f + d * 0.01f))))
    val rounds = 4
    val ckpt = tempDir(
      s"${sys.props("java.io.tmpdir")}/graft_ckpt_test/kmeans-${System.nanoTime()}")

    val (memAssigned, memCents) = KMeansQuant.fit(s, data, "qv", init, rounds, dim)
    val want = memAssigned.select("vec_id", "cluster", "distq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted

    // crash inside round 2 (after rounds 0→1 and 1→2 updates committed)
    val boom = intercept[RuntimeException] {
      KMeansQuant.fitRun(s,
        data, "qv", init, rounds, dim, graft.operators.Fixpoint.Durable(ckpt,
        chaosHook = r => if (r == 2) throw new RuntimeException("chaos")))
      ()
    }
    assert(boom.getMessage == "chaos")

    val (resAssigned, ranHere, resumedFrom) =
      KMeansQuant.fitRun(s, data, "qv", init, rounds, dim, graft.operators.Fixpoint.Durable(ckpt))
    assert(resumedFrom == 2, s"expected resume from round 2, got $resumedFrom")
    assert(ranHere == 1)
    val got = resAssigned.select("vec_id", "cluster", "distq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq, "durability changed an assignment")

    // converged marker: re-invocation is an idempotent no-op pass
    val (_, ranAgain, from) =
      KMeansQuant.fitRun(s, data, "qv", init, rounds, dim, graft.operators.Fixpoint.Durable(ckpt))
    assert(ranAgain == 0 && from == rounds - 1)

    // resume with a DIFFERENT rounds must fail fast, not silently return
    // centroids from the original training length (both the converged
    // marker and a committed-round-past-the-request path)
    val tooFew = intercept[IllegalStateException] {
      KMeansQuant.fitRun(s,
        data, "qv", init, rounds - 1, dim, graft.operators.Fixpoint.Durable(ckpt))
      ()
    }
    assert(tooFew.getMessage.contains("converged after"))
    val tooMany = intercept[IllegalStateException] {
      KMeansQuant.fitRun(s,
        data, "qv", init, rounds + 2, dim, graft.operators.Fixpoint.Durable(ckpt))
      ()
    }
    assert(tooMany.getMessage.contains("converged after"))
  }

  test("plan shapes: assignment is shuffle-free; SemDeDup pair join is " +
      "cluster-equi-keyed; IVF probes broadcast") {
    val dir = "/root/testdata/sf0.001"
    val qs = graft.SparkEntry.queries

    // final k-means assignment: pure codegen'd projection over the scan —
    // the ONLY exchange is the output ORDER BY
    val kmPlan = qs("q_cluster_kmeans")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!kmPlan.contains("Join"), s"assignment joins:\n$kmPlan")
    assert("Exchange".r.findAllIn(kmPlan).size == 1,
      s"assignment shuffles beyond the output sort:\n$kmPlan")

    // SemDeDup: the pair join must be EQUI-keyed on cluster (broadcast at
    // this scale; hash-partitioned on cluster beyond the threshold) —
    // never a nested-loop cross product — and the count must two-phase
    val semQe = qs("q_dedup_semantic")(spark, dir).queryExecution
    val semPlan = semQe.executedPlan.toString
    assert(!semPlan.contains("BroadcastNestedLoopJoin") &&
      !semPlan.contains("CartesianProduct"),
      s"pair generation is all-pairs:\n$semPlan")
    assert(semPlan.contains("cluster"), semPlan)
    assert("HashAggregate".r.findAllIn(semPlan).size >= 2,
      s"per-vector agg is not two-phase:\n$semPlan")

    // trained-IVF: probe set broadcasts; per-query top-k is
    // WindowGroupLimit-pruned before the rank window
    val ivfPlan = qs("q_sim_ivf_kmeans")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(ivfPlan.contains("BroadcastHashJoin"), ivfPlan)
    assert(ivfPlan.contains("WindowGroupLimit"), ivfPlan)
  }

  test("q_cluster_kmeans and q_dedup_semantic run green on sf0.001") {
    val qs = graft.SparkEntry.queries
    val km = qs("q_cluster_kmeans")(spark, "/root/testdata/sf0.001").collect()
    assert(km.length == 500)
    assert(km.map(_.getLong(1)).distinct.length == 8)
    val sem = qs("q_dedup_semantic")(spark, "/root/testdata/sf0.001").collect()
    assert(sem.nonEmpty && sem.length < 500)
    // keeper is always a smaller id in the same result-space
    assert(sem.forall(r => r.getLong(2) < r.getLong(0)))
  }
}
