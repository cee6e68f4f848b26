package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.Graft

/** Records the golden digests of every registry operation the benchmark
  * runs, at the commit whose outputs are to be trusted.
  *
  * Each operation runs twice in one JVM, as it does across a run's
  * passes; an operation whose two digests differ is reported and gets no
  * golden, so every run of it fails its check. With a third argument —
  * a directory `graft.Verify` wrote for the same data, which
  * `tools/localverify.py` compared with the DuckDB oracle — the goldens
  * are also checked against the digests of those verified outputs.
  *
  * Usage: perfbench.Golden <perfbench dir> <cores> [<verify output dir>] */
object Golden {
  def main(args: Array[String]): Unit = {
    val bench = new File(args(0)).getAbsoluteFile
    val cores = args(1).toInt
    val verified = args.lift(2).map(new File(_))
    val spark = Graft.session(s"local[$cores]", cores)
    val dataDir = new File(bench, "data/sf0.01").getPath
    val names = Seq("query_mix", "ingest")
      .flatMap(w => Main.readOps(new File(bench, s"ops/$w.txt"))).distinct.sorted

    def digest(name: String): Either[String, Digest] =
      try Right(Digest.of(SparkEntry.queries(name)(spark, dataDir)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    val golden = names.flatMap { n =>
      (digest(n), digest(n)) match {
        case (Right(d1), Right(d2)) if d1 == d2 =>
          val check = verified.map(v => new File(v, n)).filter(_.isDirectory).map { dir =>
            val dv = Digest.of(spark.read.parquet(dir.getPath))
            if (dv == d1) "verified" else s"VERIFY MISMATCH $dv"
          }.getOrElse("no verified output")
          System.err.println(s"[golden] $n $d1 $check")
          Some(n -> d1.toString)
        case (r1, r2) =>
          System.err.println(s"[golden] $n UNSTABLE or FAILED: $r1 / $r2")
          None
      }
    }
    spark.stop()
    val json = JsonMethods.pretty(Json.of(golden.toMap.toSeq.sortBy(_._1)
      .foldLeft(scala.collection.immutable.ListMap.empty[String, String])(_ + _)))
    Files.write(new File(bench, "golden.json").toPath, (json + "\n").getBytes(UTF_8))
  }
}
