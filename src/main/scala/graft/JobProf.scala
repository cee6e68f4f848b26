package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Action-count profiler: runs ONE registry query (env PROF_Q) after one
  * untimed warmup and prints every Spark JOB with its wall time and
  * description — the evidence for fixed-cost-dominated gates (tiny data,
  * many actions) where the optimization lever is job COUNT, not per-task
  * work. Builder tooling, not driver contract.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val name = sys.env.getOrElse("PROF_Q", "q1_agg")
    val warms = sys.env.getOrElse("PROF_WARMS", "1").toInt
    val spark = graft.core.Graft.session(s"local[$cpus]", cpus.toInt)
    // PROF_Q accepts a comma-separated list (r17): each query warms and
    // profiles inside ONE shared JVM, so a 15-query fixed-cost sample
    // does not pay 15 sbt/JVM startups.
    name.split(",").filter(_.nonEmpty).foreach { qn =>
      val fn = SparkEntry.queries(qn)
      (1 to warms).foreach(_ =>
        fn(spark, dir).write.format("noop").mode("overwrite").save())

      val starts = mutable.Map[Int, (Long, String)]()
      val jobs = mutable.ArrayBuffer[(Int, Double, Double, String)]()
      val t00 = System.nanoTime()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("")
          starts(e.jobId) = (System.nanoTime(), desc)
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          starts.remove(e.jobId).foreach { case (t0, desc) =>
            jobs += ((e.jobId, (t0 - t00) / 1e9,
              (System.nanoTime() - t0) / 1e9, desc.take(110)))
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener bus is async
      spark.sparkContext.removeSparkListener(listener)
      println(f"TOTAL $total%.3f s over ${jobs.size} jobs ($qn @ $dir)")
      val jsum = jobs.map(_._3).sum
      println(f"sum(job wall)=$jsum%.3f s, gap (driver-side) = ${total - jsum}%.3f s")
      jobs.sortBy(_._1).foreach { case (id, at, dur, desc) =>
        println(f"job $id%4d at=$at%7.2f dur=$dur%7.3f  $desc")
      }
    }
    spark.stop()
  }
}
