package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.pipeline.{Pipeline, WordCount}

/** Seeded `(key, text)` records for the `mr_pipeline` workload.
  *
  * The seed sets the key count, the key skew, the alphabet of the values
  * and their run-length mix. Each value is a fixed number of character
  * runs, and neighbouring runs never share a character, so the runs the
  * generator draws are exactly the runs `WordCount.runLength` finds: the
  * expected outputs below are folded from the drawn runs, not from the
  * pipeline's own mapper. */
final case class MrInput(
    records: Vector[(String, String)],
    runs: Vector[Vector[(Char, Int)]],
    keyCount: Int, keySkew: Double, alphabet: Int, runStop: Double) {

  /** The records as the bytes a change of generator would show in. */
  def bytes: Array[Byte] =
    records.iterator.map { case (k, v) => s"$k\u0000$v\n" }.mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def prefix(n: Int): MrInput = copy(records = records.take(n), runs = runs.take(n))

  /** Expected output of each pipeline shape, as a sorted list. */
  def expected(shape: String): Seq[(String, Int)] = shape match {
    case "wordcount" | "combiner" =>
      val acc = scala.collection.mutable.HashMap.empty[String, Int]
      runs.foreach(_.foreach { case (c, n) =>
        acc(c.toString) = acc.getOrElse(c.toString, 0) + n + 1 })
      acc.toSeq.sorted
    case "two_reducer" =>
      val longest = scala.collection.mutable.HashMap.empty[String, Int]
      records.iterator.zip(runs.iterator).foreach { case ((k, _), rs) =>
        longest(k) = math.max(longest.getOrElse(k, 0), rs.map(_._2).max) }
      longest.values.groupBy(identity).map { case (n, ks) => (n.toString, ks.size) }
        .toSeq.sorted
  }
}

object MrInput {

  val shapes: Seq[String] = Seq("wordcount", "combiner", "two_reducer")

  /** Runs per value: every record feeds the same number of records to
    * the first mapper's output whatever the seed. */
  val RunsPerValue = 12

  def generate(seed: Long, n: Int): MrInput = {
    val rng = new SplittableRandom(seed)
    val keyCount = 20000 + rng.nextInt(10001)
    val keySkew = 0.9 + 0.2 * rng.nextDouble()
    val alphabet = 200 + rng.nextInt(101)
    // geometric run lengths 1 + Geom(runStop): mean 1/runStop
    val runStop = 0.45 + 0.1 * rng.nextDouble()
    val keyCdf = zipfCdf(keyCount, keySkew)
    val charCdf = zipfCdf(alphabet, 0.5)
    def draw(cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }
    // CJK unified ideographs: a large alphabet of single UTF-16 units
    def char(i: Int): Char = (0x4E00 + i).toChar
    val records = Vector.newBuilder[(String, String)]
    val runs = Vector.newBuilder[Vector[(Char, Int)]]
    var i = 0
    while (i < n) {
      val key = f"k${draw(keyCdf)}%05d"
      val rs = Vector.newBuilder[(Char, Int)]
      val sb = new StringBuilder
      var prev = -1
      var r = 0
      while (r < RunsPerValue) {
        var c = draw(charCdf)
        while (c == prev) c = draw(charCdf)
        var len = 1
        while (rng.nextDouble() > runStop) len += 1
        rs += ((char(c), len))
        var j = 0
        while (j < len) { sb += char(c); j += 1 }
        prev = c
        r += 1
      }
      records += ((key, sb.result()))
      runs += rs.result()
      i += 1
    }
    MrInput(records.result(), runs.result(), keyCount, keySkew, alphabet, runStop)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** The three pipeline shapes: the reference's word count, the same
    * chain ending in a map-side combiner, and a chain with two reducers
    * (two stage barriers) keyed first by the input key. */
  def pipeline(spark: SparkSession, shape: String): Pipeline[String, String, String, Int] = {
    import spark.implicits._
    shape match {
      case "wordcount" => WordCount.pipeline(spark)
      case "combiner" =>
        Pipeline.mapper(WordCount.runLength).mapper(WordCount.add1).combiner(_ + _)
      case "two_reducer" =>
        Pipeline
          .mapper[String, String, String, Int](kv =>
            WordCount.runLength(kv).map { case (_, n) => (kv._1, n) })
          .reducer[Int]((_, ns) => Seq(ns.max))
          .mapper { case (_, m) => Seq((m.toString, 1)) }
          .reducer[Int]((_, ones) => Seq(ones.sum))
    }
  }

  def run(spark: SparkSession, shape: String, input: Dataset[(String, String)]): Seq[(String, Int)] =
    pipeline(spark, shape)(input).collect().toSeq.sorted
}
