package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.QueryProfile

/** [[QueryProfile.measure]] counts exactly the events of its body: the
  * listener bus is drained before and after, so back-to-back runs with no
  * sleep between them read the same counts. */
class QueryProfileSpec extends AnyFunSuite with SparkSessionFixture {

  test("a one-exchange query reads the same jobs and stages 20 times back to back") {
    def run(): Unit =
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    run()
    val profiles = (1 to 20).map(_ => QueryProfile.measure(spark, "one exchange")(run())._2)
    val counts = profiles.map(p => (p.jobs, p.stages)).distinct
    info(s"(jobs, stages) over 20 runs: ${counts.mkString(", ")}")
    assert(counts.size == 1, counts)
    assert(counts.head._1 > 0)
    assert(profiles.forall(_.shuffleWriteBytes > 0),
      profiles.map(_.shuffleWriteBytes))
    assert(profiles.forall(p => p.perJob.size == p.jobs))
    // the result job is labelled with its call site
    assert(profiles.head.perJob.last.label.contains("QueryProfileSpec.scala"),
      profiles.head.perJob)
  }

  // One partition: over more, count() plans an Exchange SinglePartition
  // for the partial counts and writes a few hundred shuffle bytes.
  test("a one-partition spark.range(100).count() moves no shuffle bytes") {
    val (n, p) = QueryProfile.measure(spark, "range count")(
      spark.range(0, 100, 1, 1).count())
    assert(n == 100)
    assert(p.jobs > 0)
    assert(p.shuffleWriteBytes == 0 && p.shuffleReadBytes == 0, p)
  }

  test("an empty body reports no jobs") {
    val (_, p) = QueryProfile.measure(spark, "empty")(())
    assert(p.jobs == 0 && p.stages == 0 && p.tasks == 0 && p.jobMs == 0, p)
    assert(p.perJob.isEmpty)
  }
}
