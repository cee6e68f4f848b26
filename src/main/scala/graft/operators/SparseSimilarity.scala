package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse TF-IDF cosine similarity over an inverted postings index —
  * the exact-arithmetic document-pair scorer behind `q_sim_sparse`.
  *
  * Scale shape: postings rows (term, doc, weight) self-join on the term
  * (shuffle-on-term), pairs aggregate on (doc_a, doc_b)
  * (shuffle-on-pair) — both plain hash shuffles, no broadcast, no
  * all-pairs stage. The ONE superlinear danger is hot terms: a term
  * appearing in df documents fans out df² pair rows, so the df-cap
  * bounds per-term fan-out at cap² regardless of corpus size. A term in
  * more than ~100 documents carries almost no IDF discrimination
  * anyway — dropping it changes scores marginally while turning the
  * worst-case join from corpus² to cap²·n_terms. The cap must be
  * ABSOLUTE: a relative cap (N/10) lets postings fan-out grow
  * quadratically with corpus size, which is exactly the measured ×12
  * shuffle superlinearity the ×1..×10 curves caught. Recall-vs-cap is
  * measured in SparseRecallSpec.
  *
  * Weights are integer: w = tf · ((nDocs·100) div df); norms ride the
  * postings rows so no post-aggregation joins are needed. The final
  * cosine is one deterministic double division per surviving pair.
  */
object SparseSimilarity {

  /** All document pairs with cosine ≥ minCosMicro/1e6, over the
    * df-capped trigram postings of `docs` (doc_id, text). `nDocs` is
    * passed in (the caller usually has it) to keep this a single-pass
    * plan. Output: (doc_a, doc_b, cos_micro), doc_a < doc_b. */
  def cosinePairs(
      docs: DataFrame, nDocs: Long, dfCap: Long,
      minCosMicro: Long = 500000L): DataFrame = {
    val tok = docs
      .withColumn("tl", filter(split(lower(col("text")), " "), x => x =!= ""))
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.gramSeqNative(col("tl"), 3))
          .as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    val w = tf.join(df, "t")
      .select(col("t"), col("doc_id"),
        (col("tf") * expr(s"(($nDocs * 100) div df)")).as("w"))
    val norm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val wn = w.join(norm, "doc_id")
    wn.select(col("t"), col("doc_id").as("doc_a"),
        col("w").as("wa"), col("n2").as("na2"))
      .join(wn.select(col("t"), col("doc_id").as("doc_b"),
        col("w").as("wb"), col("n2").as("nb2")), Seq("t"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"),
        first(col("na2")).as("na2"), first(col("nb2")).as("nb2"))
      .select(col("doc_a"), col("doc_b"),
        round(lit(1e6) * col("dot") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")), 0)
          .cast("long").as("cos_micro"))
      .filter(col("cos_micro") >= minCosMicro)
  }
}
