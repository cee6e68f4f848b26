package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after the r13 driver record silently lost a CONTIGUOUS
  * 4-query block (registry positions 111-114 in Map iteration order):
  * a transient mid-run failure (OOM storm — `catch Throwable` swallows
  * OutOfMemoryError and keeps going) left no parquet for those queries,
  * and the driver's compare enumerates output dirs, so they vanished
  * from CORRECTNESS_r13.json without a FAIL row. Three defenses now:
  * (1) oracle_sql.json is written FIRST, so even a killed run leaves a
  * usable compare manifest; (2) queries run in sorted-name order, so a
  * wall-clock kill truncates a *predictable* suffix instead of a random
  * hash-order slice; (3) failed queries are RETRIED (2 extra passes,
  * with an explicit GC pause between passes — transient memory pressure
  * is exactly what a retry-after-the-storm fixes), and any final
  * failures are dumped to _verify_failures.json so a gap in the record
  * is diagnosable instead of silent. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Graft.session(s"local[$cpus]", cpus.toInt)
    // Marks this session as an oracle-gate run: bench-only knobs that
    // would drift gated results away from their static oracles (the
    // band caps of operators/BandCap) fail fast instead of silently
    // diverging.
    spark.conf.set("spark.graft.oracle.gate", "true")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracles first: a killed run still leaves the compare manifest.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Optional comma-separated subset for fast local iteration; the
    // driver sets nothing and dumps the whole registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // The one-file coalesce makes the sf0.01 driver compare tidy, but at
    // large SF it funnels every big ordered result through ONE task's
    // interpreted-comparator sort (a 40-minute single thread at sf10).
    // The compare reads the whole directory either way, so large-SF runs
    // disable it and keep the range-partitioned parallel sort.
    val coalesce1 = !sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")

    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy(_._1)

    def runOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[String] =
      try {
        val df = fn(spark, sfDir)
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        Some(msg)
      }

    var pending = selected
    var lastErr = Map.empty[String, String]
    val maxPasses = 3
    var pass = 1
    while (pending.nonEmpty && pass <= maxPasses) {
      if (pass > 1) {
        System.err.println(
          s"[verify] retry pass $pass for ${pending.size} queries: " +
            pending.map(_._1).mkString(","))
        spark.catalog.clearCache()
        System.gc(); Thread.sleep(2000)
      }
      pending = pending.flatMap { case (name, fn) =>
        runOne(name, fn) match {
          case Some(err) => lastErr += (name -> err); Some((name, fn))
          case None      => lastErr -= name; None
        }
      }
      pass += 1
    }
    if (lastErr.nonEmpty) {
      val fj = lastErr.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_verify_failures.json"), fj)
      System.err.println(
        s"[verify] FINAL FAILURES after $maxPasses passes: " +
          lastErr.keys.toSeq.sorted.mkString(","))
    }
    spark.stop()
  }
}
