package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Eigenvector centrality by INTEGER power iteration with L∞
 * renormalization — the "important because connected to important"
 * centrality the PageRank/Katz/HITS roster was still missing:
 *
 *   raw_k(v) = Σ_{u ∈ N(v)} x_{k-1}(u)          (one dense gather)
 *   x_k(v)   = ⌊raw_k(v) · S / max_w raw_k(w)⌋   (S = 10⁶)
 *
 * The per-round max is a scalar aggregate — the Allreduce analog, same
 * as PageRank's delta (reference core/graph.hpp:1856-1858) — and the
 * floor renormalization keeps every state an exact integer in [0, S],
 * so the whole K-round dynamic is bit-replayable in any engine (the
 * oracle chains K CTE rounds). Fixed K (default 6) rather than a float
 * convergence test, for the same exactness reason as Katz.
 *
 * Scale shape: identical to PageRank's dense schedule — one
 * partially-aggregated gather per round over the co-clustered
 * symmetric edge layout, state re-clustered across the lineage cut;
 * no driver-side state beyond the scalar max. raw ≤ d_max · 10⁶
 * stays far inside long range for any realistic degree.
 */
object EigenCentrality {

  final case class Result(eigen: DataFrame, iterations: Int)

  /** @return eigen: (id, eigen_x) with eigen_x = x_K(v) ∈ [0, scale],
   * an exact long; isolated vertices report 0. */
  def run(graph: LinkGraph, iterations: Int = 6,
      scale: Long = 1000000L): Result = {
    require(graph.symmetric, "eigenvector centrality runs on the undirected graph")
    val parts = graph.numPartitions
    var x = graph.vertices.select(col("id"), lit(scale).as("x"))
      .repartition(parts, col("id")).graftCut
    var i = 0
    while (i < iterations) {
      i += 1
      val msgs = Superstep.gather(
        graph, x, signal = col("x"), combine = sum)
      val raw = graph.vertices.select(col("id"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("s"))
        .repartition(parts, col("id")).graftCut
      val m = raw.agg(coalesce(max(col("s")), lit(0L))).first().getLong(0)
      val xNext =
        if (m == 0L) raw.select(col("id"), lit(0L).as("x")).graftCut
        else raw.select(col("id"),
          expr(s"(s * ${scale}L) div ${m}L").as("x")).graftCut
      x.graftFree(); raw.graftFree()
      x = xNext
      if (m == 0L) i = iterations // edgeless graph: fixpoint is all-zero
    }
    Result(x.select(col("id"), col("x").as("eigen_x")), iterations)
  }
}
