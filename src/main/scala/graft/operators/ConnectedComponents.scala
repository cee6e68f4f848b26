package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative MIN-LABEL propagation —
  * the clustering step a real near-dup pipeline needs on top of pairwise
  * candidates: similarity pairs form a GRAPH, and "keep one document per
  * near-dup CLUSTER" means one survivor per connected component, not
  * per-pair drops (pair drops over-delete chains: A~B, B~C, A≁C must
  * keep one of the three, not drop both B and C).
  *
  * Algorithm: every vertex starts labeled with itself; each round, every
  * vertex takes the min of its own label and its neighbors' labels; stop
  * when no label changes. Converges in O(component diameter) rounds —
  * for near-dup graphs components are tiny (a handful of variants of one
  * document), so 2-4 rounds in practice; a hard cap guards pathological
  * inputs. Each round is ONE shuffle (edge join + min-agg) over the
  * label table, run by the [[Fixpoint]] round driver, whose policy
  * materializes the labels each round so the plan does not grow with
  * iterations. The big-graph refinements (large-star/small-star
  * alternation, Graphframes-style) keep the same outer loop and swap the
  * propagation step; unnecessary at near-dup component sizes.
  *
  * Determinism: min-label fixpoint is a pure function of the graph.
  */
object ConnectedComponents {

  /** Returns (id LONG, component LONG): `component` = min vertex id
    * reachable from `id`. `vertices` must cover every id in `edges`
    * (isolated vertices come out as their own component). Fails when
    * the labels still move after `maxIters` rounds. */
  def components(
      vertices: DataFrame, // column: id
      edges: DataFrame, // columns: src, dst
      maxIters: Int = 20,
      policy: Fixpoint.Policy = Fixpoint.Local): DataFrame =
    componentsRun(vertices, edges, maxIters, policy)._1

  /** [[components]] with the run's round figures: (labels, rounds run
    * by this call, committed round it resumed from). */
  def componentsRun(vertices: DataFrame, edges: DataFrame, maxIters: Int,
      policy: Fixpoint.Policy): (DataFrame, Int, Int) = {
    // The stability check rides the round's own materialization: each
    // id's group holds exactly one self row (labels is keyed by id; every
    // propagated id is a vertex), so max(__old) recovers the previous
    // label and "component < __old" marks a shrink.
    val changed = sum(when(col("component") < col("__old"), 1L).otherwise(0L))
    val r = Fixpoint.run(vertices.sparkSession, policy, maxIters, Some(changed)) { in =>
      val sym = in("sym", edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      Fixpoint.Rounds(
        vertices.select(col("id"), col("id").as("component")),
        labels => {
          val prop = sym.join(labels, sym("src") === labels("id"))
            .select(col("dst").as("id"), col("component"),
              lit(null).cast("long").as("__old"))
          labels.select(col("id"), col("component"), col("component").as("__old"))
            .unionAll(prop)
            .groupBy("id").agg(min("component").as("component"),
              max("__old").as("__old"))
        })
    }
    require(r.converged, s"connected components did not converge in $maxIters rounds")
    (r.state, r.rounds, r.resumedFrom)
  }
}
