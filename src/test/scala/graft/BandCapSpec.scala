package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral proof of the degenerate-band cap for the LSH-banded
  * candidate joins (operators/BandCap, knobs
  * `spark.graft.minhash.bandCap` / `spark.graft.phash.bandCap`) —
  * VERDICT r13 item 3, the banded joins' analog of the n-gram dfCap
  * (NgramDfCapSpec): a band value with k members generates k(k−1)/2
  * candidate pairs, so one degenerate value (boilerplate shingles, a
  * flat image quadrant's all-zero aHash slice) turns the join quadratic.
  * The cap drops such values BEFORE the self-join; the verify stage
  * (hamming radius / jaccard floor) then decides from surviving
  * candidates only.
  *
  * Pinned on the formulaic fixture the gates run (the synthetic
  * near-dup image set + sf0.01 documents — measured band histogram:
  * hottest value k=11, total pair mass 2021):
  *  - capping only REMOVES candidates, never adds: verified results
  *    under any cap are a subset of the uncapped results (monotonicity
  *    — the soundness half that holds on every corpus);
  *  - at cap=10 (drops only the k=11 degenerates) candidate mass
  *    strictly shrinks and the VERIFIED results are bit-identical —
  *    true near-dups co-occur in several bands, so shedding the
  *    hottest values loses nothing the dist≤3 / est-jaccard≥0.5 verify
  *    keeps;
  *  - at an aggressive cap=3 candidate mass collapses >3× (2021→615)
  *    — the quadratic term measurably gone — while the output is still
  *    a (97/115) subset, quantifying the recall trade the knob's
  *    documentation states;
  *  - the knob fails fast on junk values and under the oracle gate,
  *    so gated results can never drift.
  */
class BandCapSpec extends AnyFunSuite with SparkSessionFixture {

  private val Dir = "/root/testdata/sf0.01"

  /** Σ k·(k−1)/2 over band-value member counts = candidate pairs the
    * band self-join generates (the id< halving applies identically on
    * both sides, so ratios compare cleanly). */
  private def pairMass(bands: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Long =
    bands.groupBy(cols.map(col): _*).agg(count(lit(1)).as("k"))
      .agg(sum((col("k") * (col("k") - 1) / 2).cast("long")))
      .collect()(0).getLong(0)

  private def phashBands(cap: Option[Int]): org.apache.spark.sql.DataFrame = {
    val m = graft.operators.Multimodal
    val h = m.decodeImagePHash(
        m.syntheticImagesNearDup(
          spark.read.parquet(s"$Dir/documents.parquet"))).toDF()
      .select(col("media_id"), col("ahash_lo"), col("ahash_hi"))
    val raw = h.select(col("media_id"),
        posexplode(array(
          col("ahash_lo").bitwiseAND(lit(65535L)),
          shiftrightunsigned(col("ahash_lo"), 16),
          col("ahash_hi").bitwiseAND(lit(65535L)),
          shiftrightunsigned(col("ahash_hi"), 16))))
      .select(col("media_id"), col("pos").as("bi"), col("col").as("bv"))
    graft.operators.BandCap.filterDegenerate(raw, Seq("bi", "bv"), cap)
  }

  private def phashWithCap(cap: Option[Int]): Seq[org.apache.spark.sql.Row] = {
    cap.foreach(c => spark.conf.set("spark.graft.phash.bandCap", c.toString))
    try SparkEntry.queries("q_dedup_phash")(spark, Dir).collect().toSeq
    finally spark.conf.unset("spark.graft.phash.bandCap")
  }

  test("phash: conservative cap sheds the hottest bands, results unchanged") {
    val uncapped = pairMass(phashBands(None), Seq("bi", "bv"))
    val capped = pairMass(phashBands(Some(10)), Seq("bi", "bv"))
    assert(capped < uncapped,
      s"cap=10 should drop the k=11 degenerates: $uncapped -> $capped")
    assert(phashWithCap(Some(10)) === phashWithCap(None))
  }

  test("phash: aggressive cap collapses candidate mass >3x; output stays a subset") {
    val uncapped = pairMass(phashBands(None), Seq("bi", "bv"))
    val capped = pairMass(phashBands(Some(3)), Seq("bi", "bv"))
    assert(capped * 3 < uncapped,
      s"expected >3x candidate collapse at cap=3, got $uncapped -> $capped")
    // the gate aggregates pairs into (media_id → keeper, n_dups), so the
    // MONOTONE quantities are the surviving key set and each key's dup
    // count — both can only shrink when candidates are removed
    def byKey(rows: Seq[org.apache.spark.sql.Row]): Map[Long, Long] =
      rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val base = byKey(phashWithCap(None))
    val sub = byKey(phashWithCap(Some(3)))
    assert(sub.keySet.subsetOf(base.keySet),
      "capping must only remove verified pairs, never add")
    assert(sub.forall { case (k, n) => n <= base(k) })
    assert(sub.nonEmpty && sub.size < base.size)
  }

  test("minhash: verified clusters unchanged under a biting cap") {
    val base = SparkEntry.queries("q_dedup_clusters")(spark, Dir).collect()
    spark.conf.set("spark.graft.minhash.bandCap", "10")
    try {
      val capped = SparkEntry.queries("q_dedup_clusters")(spark, Dir).collect()
      assert(capped.toSeq === base.toSeq)
    } finally spark.conf.unset("spark.graft.minhash.bandCap")
  }

  test("knob guardrails: junk values and the oracle gate fail fast") {
    spark.conf.set("spark.graft.phash.bandCap", "zero")
    try intercept[IllegalArgumentException] {
      graft.operators.BandCap.cap(spark, "spark.graft.phash.bandCap")
    } finally spark.conf.unset("spark.graft.phash.bandCap")
    spark.conf.set("spark.graft.minhash.bandCap", "-3")
    try intercept[IllegalArgumentException] {
      graft.operators.BandCap.cap(spark, "spark.graft.minhash.bandCap")
    } finally spark.conf.unset("spark.graft.minhash.bandCap")
    spark.conf.set("spark.graft.minhash.bandCap", "100")
    spark.conf.set("spark.graft.oracle.gate", "true")
    try intercept[IllegalStateException] {
      graft.operators.BandCap.cap(spark, "spark.graft.minhash.bandCap")
    } finally {
      spark.conf.unset("spark.graft.minhash.bandCap")
      spark.conf.unset("spark.graft.oracle.gate")
    }
  }
}
