package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for ScalaTest suites, built by the engine's
  * session factory so tests run under the settings and extensions that
  * Bench and Verify use. */
trait SparkSessionFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = graft.core.Graft.session("local[4]", 4)

  override def afterAll(): Unit = {
    // Session is shared across suites in one forked JVM — don't stop it.
    super.afterAll()
  }
}
