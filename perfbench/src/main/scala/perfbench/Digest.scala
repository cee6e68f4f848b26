package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: the row count and two sums over
  * the rows' 64-bit hashes (upper and lower 32 bits summed separately, so
  * neither sum can overflow below 2^31 rows). Summing rather than XOR-ing
  * keeps duplicate rows visible. */
final case class Digest(rows: Long, hashHi: Long, hashLo: Long) {
  override def toString: String = s"$rows:$hashHi:$hashLo"
}

object Digest {

  def parse(s: String): Digest = s.split(':') match {
    case Array(r, h, l) => Digest(r.toLong, h.toLong, l.toLong)
    case _ => throw new IllegalArgumentException(s"not a digest: $s")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** A column Spark can hash. Map columns are not hashable, and the order
    * of a map's entries is not part of its value: a top-level map hashes
    * as its sorted entries, a map nested deeper as its JSON text. */
  private def hashable(f: StructField): Column = {
    val c = col(s"`${f.name.replace("`", "``")}`")
    f.dataType match {
      case _: MapType => array_sort(map_entries(c))
      case t if hasMap(t) => to_json(c)
      case _ => c
    }
  }

  private def aggregates(schema: StructType): Seq[Column] = {
    val h =
      if (schema.isEmpty) lit(0L)
      else xxhash64(schema.fields.toSeq.map(hashable): _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"))
  }

  private def fromRow(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2))

  /** Digest computed by its own aggregation job. */
  def of(df: DataFrame): Digest = {
    val aggs = aggregates(df.schema)
    fromRow(df.agg(aggs.head, aggs.tail: _*).head())
  }

  /** `df` with the digest attached as observed metrics: the digest is
    * computed in the same job that materializes `df`, and is read with
    * [[await]] once that job has run. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs = aggregates(df.schema)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  def await(obs: Observation, timeoutS: Int = 60): Digest = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    fromRow(Await.result(obs.future, timeoutS.seconds))
  }
}
