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
 * side never re-shuffles, state re-clustered across each lineage
 * cut. The per-src degree rides inside the state row, so the signal
 * `v div deg` is evaluated post-join with zero extra exchanges.
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
    val ids = graph.vertices.select(col("id"))
    val rev = graph.transpose
    // degree payloads: out(u) for the auth gather (signal divides the
    // hub score at the SRC), in(v) for the hub gather on the transpose
    val outDeg = graph.degrees.select(col("id"), col("out_degree").as("deg"))
    val inDeg = graph.degrees.select(col("id"), col("in_degree").as("deg"))

    var hub: DataFrame =
      ids.select(col("id"), lit(startScale).as("v")).graftCut
    var auth: DataFrame = null
    var prevHub: DataFrame = hub
    var prevAuth: DataFrame = null

    for (_ <- 1 to iterations) {
      // a(v) = Σ over in-edges u→v of h(u) div out(u): vertices with
      // out(u)=0 have no out-edges, so the division never sees 0
      val aMsgs = Superstep.gather(
        graph, hub.join(outDeg, "id"),
        signal = expr("v div deg"), combine = sum,
        saltBuckets = salt)
      auth = ids.join(aMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("v"))
        .graftCut
      if (prevAuth ne null) prevAuth.graftFree()
      prevAuth = auth

      // h(u) = Σ over out-edges u→v of a(v) div in(v): on the
      // transpose the signalling side is the original dst, whose
      // in-degree is ≥ 1 by construction of having the edge
      val hMsgs = Superstep.gather(
        rev, auth.join(inDeg, "id"),
        signal = expr("v div deg"), combine = sum,
        saltBuckets = salt)
      hub = ids.join(hMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("v"))
        .graftCut
      prevHub.graftFree()
      prevHub = hub
    }

    val scores = auth.select(col("id"), col("v").as("auth"))
      .join(hub.select(col("id"), col("v").as("hub")), "id")
    Result(scores, iterations)
  }
}
