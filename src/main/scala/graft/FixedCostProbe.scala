package graft


/** Fixed-cost experiment harness (builder tooling, not driver contract):
  * measures the host's per-action floor (the Bench canaries) and a small
  * set of registry queries under session-conf variations, so a config
  * hypothesis is tested against the SAME methodology the bench uses
  * before it is allowed anywhere near Bench/Verify.
  *
  * Env knobs:
  *   PROBE_MAXPLANLEN — value for spark.sql.maxPlanStringLength (STATIC
  *     conf, so it must be set at session build; unset = Spark default).
  *   PROBE_SET        — semicolon-separated runtime conf k=v pairs
  *     applied before the query loop (e.g. state-partition overrides).
  *   PROBE_QS         — comma-separated registry query names; each is
  *     noop-materialized once untimed, then min-of-3 timed.
  */
object FixedCostProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val maxPlan = sys.env.get("PROBE_MAXPLANLEN")
    val spark = graft.core.Graft.session(s"local[$cpus]", cpus.toInt)
    maxPlan.foreach(spark.conf.set("spark.sql.maxPlanStringLength", _))
    def medianMs(n: Int)(f: => Unit): Double = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(n / 2)
    }
    (1 to 20).foreach(_ => spark.range(100).count())
    println(f"maxPlanStringLength=${maxPlan.getOrElse("default")}%s")
    println(f"env_job_ms=${medianMs(20)(
      spark.sparkContext.parallelize(1 to 10, 4).count(): Unit)}%.1f")
    println(f"env_sql_ms=${medianMs(30)(spark.range(100).count(): Unit)}%.1f")
    sys.env.getOrElse("PROBE_SET", "").split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"set $k=$v")
      }
    sys.env.getOrElse("PROBE_QS", "").split(",").filter(_.nonEmpty)
      .foreach { name =>
        val fn = SparkEntry.queries(name)
        def run(): Unit =
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        run() // untimed warmup
        val t = (1 to 3).map { _ =>
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }.min
        println(f"$name min3=$t%.3f")
      }
    spark.stop()
  }
}
