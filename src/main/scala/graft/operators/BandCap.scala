package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Degenerate-band cap for LSH-style banded candidate joins (the
  * MinHash and pHash families in queries/Llm.scala).
  *
  * A band value with k members generates k² candidate pairs in the
  * band self-join — the same quadratic hazard the n-gram index's
  * document-frequency cap bounds (queries/Llm.scala `ngram.dfCap`).
  * Text corpora hit it with boilerplate shingles (every page sharing a
  * footer collapses into one minhash band value); image corpora hit it
  * with flat regions (an all-zero 16-bit aHash slice is shared by every
  * image with a uniform quadrant). One such value at corpus scale turns
  * the candidate join into all-pairs over millions of rows.
  *
  * The cap drops band values whose member count EXCEEDS it before the
  * self-join: a degenerate value that ubiquitous carries no similarity
  * signal (the max-df convention), and true near-dups overwhelmingly
  * co-occur in several bands, so the verify stage (hamming radius /
  * jaccard floor) sees the same survivors. Plan shape: one map-side-
  * combinable count over (band cols) → the HOT value list is tiny
  * (≤ rows/cap values) → broadcast LEFT ANTI join against the band
  * table. No extra shuffle of the corpus-sized side.
  *
  * Both knobs are BENCH/PRODUCTION levers, unset by default: candidate
  * generation under a cap is a strict subset, so a capped run can drop
  * pairs whose only overlap is the degenerate value — under the oracle
  * gate (`spark.graft.oracle.gate`) a set knob fails fast instead of
  * silently drifting the gated results. */
object BandCap {

  /** Parse `spark.graft.minhash.bandCap` / `spark.graft.phash.bandCap`
    * — None (the default) disables capping entirely. */
  def cap(s: SparkSession, knob: String): Option[Int] =
    s.conf.getOption(knob).map { v =>
      val c = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$knob must be a positive integer, got '$v'")
      }
      require(c > 0, s"$knob must be > 0, got $c " +
        "(a non-positive cap would drop every band)")
      if (s.conf.getOption("spark.graft.oracle.gate").contains("true"))
        throw new IllegalStateException(
          s"$knob=$c conflicts with the oracle-gated dedup queries " +
            "(oracles are generated uncapped); unset the knob for gate " +
            "runs — it is a scale/bench lever")
      c
    }

  /** Filter `bands` down to rows whose band value (the tuple of
    * `bandCols`) has at most `cap` members. No-op when `cap` is None. */
  def filterDegenerate(bands: DataFrame, bandCols: Seq[String],
      cap: Option[Int]): DataFrame = cap match {
    case None => bands
    case Some(c) =>
      val cols: Seq[Column] = bandCols.map(col)
      val hot = bands.groupBy(cols: _*).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > c.toLong)
        .select(cols: _*)
      bands.join(broadcast(hot), bandCols, "left_anti")
  }
}
