package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable

/** Perf-diagnosis main: runs ONE registry query (env PROF_Q) at
  * SPARK_GRAFT_SF_DIR after two untimed warmups, prints total wall time,
  * a per-stage wall/task-time breakdown, and the executed plan — the
  * evidence needed to decide WHERE a slow query spends its time before
  * touching it (stage table) and whether a rewrite changed the physical
  * shape (plan dump). Not part of the driver contract; builder tooling.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val name = sys.env.getOrElse("PROF_Q", "q1_agg")
    val spark = graft.core.Graft.session(s"local[$cpus]", cpus.toInt)
    val fn = SparkEntry.queries(name)
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val stages = mutable.ArrayBuffer[(Int, String, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, si.name.split("\n").head.take(90), wall,
          si.taskMetrics.executorRunTime))
      }
    })
    val df = fn(spark, dir)
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s  ($name @ $dir)")
    Thread.sleep(1500) // listener bus is async
    stages.sortBy(_._1).foreach { case (id, nm, wall, run) =>
      println(f"stage $id%3d wall=$wall%5d ms taskRun=$run%6d ms  $nm")
    }
    println(df.queryExecution.executedPlan.toString.take(12000))
    spark.stop()
  }
}
