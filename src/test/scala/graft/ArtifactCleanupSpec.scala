package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

/** Per-run artifact directories do not outlive their run: a session from
  * the factory removes every `<java.io.tmpdir>/graft_<kind>/<applicationId>`
  * directory when its application ends. The spec stops its context, so it
  * runs in a JVM of its own (build.sbt testGrouping). */
class ArtifactCleanupSpec extends AnyFunSuite {

  test("stopping a factory session removes its graft_*/<applicationId> dirs") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    val s = Graft.session("local[2]", 2)
    val app = s.sparkContext.applicationId
    def appDirs: Seq[File] =
      Option(new File(sys.props("java.io.tmpdir")).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_"))
        .map(new File(_, app)).filter(_.exists())
    val store = new File(Graft.appDir(s, "kvsink"), "q_store_timetravel")
    try {
      // a store gate commits its versions under its own run dir ...
      SparkEntry.queries("q_store_timetravel")(s, "/root/testdata/sf0.001").collect()
      assert(store.isDirectory, store)
      // ... a live drip gate leaves its run root and its staging cache ...
      SparkEntry.queries("q_stream_live")(s, "/root/testdata/sf0.001").collect()
      // ... and any query may leave an artifact dir of its own kind
      val probe = Files.createDirectories(
        Paths.get(Graft.artifactDir(s, "cleanup_probe", "q")))
      Files.write(probe.resolve("x"), Array[Byte](1))
      assert(appDirs.map(_.getParentFile.getName).toSet ==
        Set("graft_kvsink", "graft_stream", "graft_stage", "graft_cleanup_probe"))
    } finally {
      s.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    assert(appDirs.isEmpty, s"left behind: ${appDirs.mkString(", ")}")
    assert(!store.exists(), s"store gate left $store")
  }
}
