package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * SALSA (Stochastic Approach for Link-Structure Analysis, Lempel &
 * Moran 2000) — the degree-normalized sibling of HITS: authority
 * weight flows along a backward-forward random walk, so each step
 * divides a vertex's score by its degree before propagating, where
 * HITS propagates the raw sum. On the transcript digraph this
 * distinguishes a tool invoked by many DIFFERENT weakly-linked turns
 * (high SALSA authority) from one invoked many times by a single
 * prolific hub (high HITS authority, diluted SALSA).
 *
 *   a_i(v) = Σ_{u→v} ⌊ h_{i-1}(u) / out(u) ⌋
 *   h_i(u) = Σ_{u→v} ⌊ a_i(v)    / in(v)  ⌋
 *
 * Integer-exact contract (the house pattern, cf. [[Hits]] and
 * [[EigenCentrality]]): scores start at 10^12 and every division is
 * an explicit floor (`div` in Spark ≡ `//` in DuckDB on nonnegative
 * longs), so the oracle replays the EXACT integers — no
 * floating-point surface. The stochastic matrices conserve total
 * mass up to floor loss, so magnitudes stay ≈ startScale·|V| ≤
 * 1e17 at 10^5 vertices; at larger |V| lower `startScale`
 * proportionally (overflow headroom is Long.Max/|V|).
 *
 * Schedule: identical to HITS — two dense gathers per iteration on
 * the dual CSR/CSC layouts (reference core/graph.hpp:119-124), edge
 * side never re-shuffles. The resident state `(id, out_degree,
 * in_degree, auth, hub)` on [[Superstep.loop]] carries both degrees,
 * so the signal `v div deg` is evaluated post-join with no degree
 * join per round. The auth rows are cut before the hub gather reads
 * them (a plan that read them twice would run the auth gather twice,
 * see [[Hits]]), so an iteration is 4 Spark jobs, pinned by
 * PageRankJobsSpec: each gather's message shuffle map stage and each
 * cut.
 */
object Salsa {

  final case class Result(scores: DataFrame, iterations: Int)

  def run(
      graph: LinkGraph,
      iterations: Int = 4,
      startScale: Long = 1000000000000L,
      saltBuckets: Int = -1): Result = {
    require(iterations >= 1, "SALSA needs at least one iteration")
    val salt = Superstep.resolveSalt(graph, saltBuckets)
    val rev = graph.transpose
    val degs = Seq(col("id"), col("out_degree"), col("in_degree"))
    val r = Superstep.loop("salsa", iterations)(
      start = _ => Superstep.Cut(
        graph.degrees.select(degs :+ lit(startScale).as("hub"): _*).graftCut,
        graph.numVertices, more = true),
      step = { c =>
        // a(v) = Σ over in-edges u→v of h(u) div out(u): vertices with
        // out(u)=0 have no out-edges, so the division never sees 0
        val auth = Superstep.withMessages(graph, c.state, Seq("hub", "out_degree"),
            expr("hub div out_degree"), sum, salt)
          .select(degs :+ coalesce(col("msg"), lit(0L)).as("auth"): _*)
          .graftCut
        // h(u) = Σ over out-edges u→v of a(v) div in(v): on the
        // transpose the signalling side is the original dst, whose
        // in-degree is ≥ 1 by construction of having the edge
        val next = Superstep.withMessages(rev, auth, Seq("auth", "in_degree"),
            expr("auth div in_degree"), sum, salt)
          .select(degs ++ Seq(col("auth"), coalesce(col("msg"), lit(0L)).as("hub")): _*)
          .graftCut
        auth.graftFree()
        Superstep.Cut(next, c.count, more = true)
      })
    Result(r.state.select(col("id"), col("auth"), col("hub")), iterations)
  }
}
