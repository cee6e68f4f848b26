package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Graft, LruMap}

/** `Graft.schemaCache` is bounded: an LRU map capped by a constant, so
  * a long-lived JVM reading per-run temp paths cannot grow it without
  * limit. */
class SchemaCacheSpec extends AnyFunSuite with SparkSessionFixture {

  test("LruMap drops the least recently used entry past its cap") {
    val m = new LruMap[String, Integer](2)
    m.put("a", 1)
    m.put("b", 2)
    assert(m.get("a").contains(1)) // a is now the most recently used
    m.put("c", 3)
    assert(m.size == 2)
    assert(m.get("b").isEmpty)
    assert(m.get("a").contains(1) && m.get("c").contains(3))
    assert(m.getOrElseUpdate("a")(99) == 1)
    assert(m.getOrElseUpdate("d")(4) == 4 && m.size == 2)
  }

  test("the parquet schema cache is an LruMap capped at SchemaCacheEntries") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_schema_cache")
      .resolve("t").toString
    Seq((1L, "x")).toDF("id", "s").write.parquet(path)
    assert(Graft.schemaCache.get(path).isEmpty)
    assert(Graft.cachedSchemaParquet(spark, path).count() == 1)
    assert(Graft.schemaCache.get(path).map(_.fieldNames.toSeq)
      .contains(Seq("id", "s")))
    assert(Graft.schemaCache.cap == Graft.SchemaCacheEntries)
    assert(Graft.schemaCache.size <= Graft.SchemaCacheEntries)
  }
}
