package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the training-corpus operators
  * (queries/Training.scala) that the row-level oracle gate can't express
  * directly: conservation (nothing lost or double-counted), coverage, and
  * the dedup ground truth for injected duplicates. */
class TrainingPropertySpec extends AnyFunSuite with SparkSessionFixture {

  private val sf = "/root/testdata/sf0.01"

  private lazy val docs =
    graft.core.Graft.table(spark, sf, "documents")

  test("split assignment: partitions the corpus, ~80/10/10") {
    val out = SparkEntry.queries("q_split_assign")(spark, sf)
    val rows = out.collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total === docs.count(), "splits must partition the corpus exactly")
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val train = bySplit("train").toDouble / total
    assert(train > 0.7 && train < 0.9, s"train fraction $train far from 0.8")
    assert(bySplit.keySet === Set("train", "val", "test"))
  }

  test("sequence packing: token and document conservation per source") {
    val out = SparkEntry.queries("q_pack_sequences")(spark, sf)
    val packed = out.groupBy("source")
      .agg(sum("n_docs").as("nd"), sum("pack_tokens").as("pt"))
    val direct = docs
      .withColumn("tok", ceil(col("n_chars") / 4.0).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("nd2"), sum("tok").as("pt2"))
    val joined = packed.join(direct, "source")
    assert(joined.filter(col("nd") =!= col("nd2") || col("pt") =!= col("pt2"))
      .count() === 0, "packing lost or duplicated documents/tokens")
    // packs are contiguous: ids 0..max with no gaps
    val gaps = out.groupBy("source")
      .agg(max("pack_id").as("mx"), count(lit(1)).as("np"))
      .filter(col("np") =!= col("mx") + 1)
    assert(gaps.count() === 0, "pack ids must be gapless per source")
  }

  test("chunking: stride-48 starts cover every token exactly once per reconstruction") {
    val out = SparkEntry.queries("q_chunk_docs")(spark, sf)
    // chunk count per doc = floor((n-1)/48)+1, ids gapless from 0
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("nc"), max("chunk_id").as("mx"),
        sum("n_chunk_tokens").as("st"))
    val expected = docs
      .withColumn("n", size(split(lower(col("text")), " ")))
      .select(col("doc_id"), col("n"),
        (floor((col("n") - 1) / 48) + 1).as("nc2"))
    val j = perDoc.join(expected, "doc_id")
    assert(j.filter(col("nc") =!= col("nc2") || col("mx") =!= col("nc2") - 1)
      .count() === 0, "chunk ids not gapless 0..floor((n-1)/48)")
    // token coverage: every chunk is 64 tokens except trailing ones,
    // so sum(chunk tokens) = n + 16*(nc-1) - max(0, last-chunk shortfall)
    // — verify via the direct reconstruction identity instead:
    // each stride start contributes min(64, n-start) tokens
    val recomputed = expected
      .withColumn("k", explode(sequence(lit(0), (col("nc2") - 1).cast("int"))))
      .withColumn("len", least(lit(64), col("n") - col("k") * 48))
      .groupBy("doc_id").agg(sum("len").as("st2"))
    val j2 = perDoc.join(recomputed, "doc_id")
    assert(j2.filter(col("st") =!= col("st2")).count() === 0,
      "per-chunk token counts disagree with the stride layout")
  }

  test("line dedup: injected duplicate docs lose every line to their originals") {
    val out = SparkEntry.queries("q_lines_dedup")(spark, sf)
    val injected = out.filter(col("doc_id") >= 100000)
    assert(injected.count() > 0)
    assert(injected.filter(col("n_kept") =!= 0).count() === 0,
      "an injected copy kept a line its original already owns")
    // conservation: total kept lines == distinct line hashes in the
    // corpus (each distinct line survives exactly once; the small-vocab
    // corpus DOES contain natural cross-doc duplicate lines, so originals
    // may legitimately lose lines to earlier docs — only the total is
    // invariant)
    val base = docs.select(col("doc_id"), col("text"))
    val dup = base.orderBy("doc_id").limit(50)
      .withColumn("doc_id", col("doc_id") + 100000)
    val distinctLines = base.unionByName(dup)
      .withColumn("tl", split(lower(col("text")), " "))
      .withColumn("nl", floor(size(col("tl")) / 10).cast("int"))
      .filter(col("nl") > 0)
      .select(explode(sequence(lit(0), col("nl") - 1)).as("j"), col("tl"))
      .select(graft.functions.GraftFunctions.charHashNative(
        concat_ws(" ", slice(col("tl"), col("j") * 10 + 1, lit(10)))).as("lh"))
      .distinct().count()
    val totalKept = out.agg(sum("n_kept")).head().getLong(0)
    assert(totalKept === distinctLines,
      s"kept $totalKept lines but corpus has $distinctLines distinct lines")
  }

  test("mixture sampling: kept counts respect the per-mille rates directionally") {
    val out = SparkEntry.queries("q_mix_weighted")(spark, sf).collect()
    out.foreach { r =>
      val rate = r.getAs[Long]("rate_pm").toDouble / 1000.0
      val kept = r.getAs[Long]("n_kept").toDouble / r.getAs[Long]("n_total")
      assert(math.abs(kept - rate) < 0.25,
        s"source ${r.getAs[String]("source")}: kept=$kept vs rate=$rate")
    }
  }
}
