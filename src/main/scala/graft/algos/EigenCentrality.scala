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
 * Scale shape: PageRank's dense schedule on [[Superstep.loop]]. The
 * resident state is the raw sums `(id, s)`; the previous round's max
 * `m` stays on the driver, and the signal `s · S div m` renormalizes
 * at the source, so the max rides the round's one lineage cut: 2
 * Spark jobs per round (the message shuffle's map stage and the cut),
 * pinned by PageRankJobsSpec. raw ≤ d_max · 10⁶ stays far inside long
 * range for any realistic degree.
 */
object EigenCentrality {

  final case class Result(eigen: DataFrame, iterations: Int)

  /** @return eigen: (id, eigen_x) with eigen_x = x_K(v) ∈ [0, scale],
   * an exact long; isolated vertices report 0. */
  def run(graph: LinkGraph, iterations: Int = 6,
      scale: Long = 1000000L): Result = {
    require(graph.symmetric, "eigenvector centrality runs on the undirected graph")
    // x = s · scale div m: the start s = m = 1 gives x_0 = scale
    var m = 1L
    def x = expr(s"(s * ${scale}L) div ${m}L")
    val r = Superstep.loop("eigen", iterations)(
      start = _ => Superstep.Cut(
        graph.vertices.select(col("id"), lit(1L).as("s"))
          .repartition(graph.numPartitions, col("id")).graftCut,
        graph.numVertices, more = true),
      step = c => {
        val (raw, max) = Superstep.withMessages(graph, c.state, Seq("s"), x, sum)
          .select(col("id"), coalesce(col("msg"), lit(0L)).as("s"))
          .graftCutMax("s")
        m = max
        // an edgeless graph: the fixpoint is all-zero
        Superstep.Cut(raw, c.count, more = m > 0)
      })
    val eigen = if (m == 0L) lit(0L) else x
    Result(r.state.select(col("id"), eigen.as("eigen_x")), iterations)
  }
}
