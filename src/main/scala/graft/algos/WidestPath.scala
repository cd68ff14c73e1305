package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LinkGraph, Superstep}

/**
 * Hop-bounded widest path (single-source max-bottleneck routing): the
 * capacity of a path is its MINIMUM edge weight, and cap(v) = the
 * maximum capacity over all root→v paths of at most `maxHops` edges —
 * the max-min dual of [[Sssp]]'s min-plus relaxation, the standard
 * QoS-routing / max-flow-bottleneck primitive.
 *
 * Why hop-BOUNDED: the unbounded widest path follows the maximum
 * spanning tree, whose root→v path can be Θ(|V|) hops — a
 * label-correcting frontier loop would then need Θ(|V|) supersteps
 * (one Spark job each). Bounding hops makes the superstep count a
 * CONSTANT of the query, independent of graph size — the shape that
 * survives 10^12 edges — and hop-bounded bottleneck is itself the
 * operationally meaningful variant (bandwidth within a latency
 * budget). Unbounded = compose with the MSF ([[Msf]]): widest paths
 * live on the maximum spanning forest.
 *
 * Frontier Bellman-Ford property (same argument as the reference's
 * sssp.cpp:46-59 relaxation): after superstep h, cap(v) equals the
 * best bottleneck over all ≤h-hop paths — an improvement found at
 * step h-1 is propagated at step h, and non-improving arrivals were
 * already dominated. So running EXACTLY `maxHops` supersteps (or
 * stopping early on an empty frontier) yields the exact hop-bounded
 * answer. Same resident state and superstep as [[Sssp]], with
 * `(id, cap, active)` and a null `cap` while unreached: 2 Spark jobs
 * per superstep.
 */
object WidestPath {

  final case class Result(caps: DataFrame, iterations: Int)

  /** Sentinel capacity of the root itself: 10^18 is exactly
   * representable in a double AND a long, so the export-as-bigint
   * compare is exact in both engines. */
  val RootCap = 1e18

  /** @return caps: (id, cap) for vertices REACHED within maxHops
   *          (root included, at [[RootCap]]). */
  def run(graph: LinkGraph, rootId: Long, maxHops: Int = 12): Result = {
    val root = col("id") === rootId
    val r = Superstep.loop("widest", maxHops)(
      start = _ => Superstep.cutActive(graph.degrees
        .select(col("id"), when(root, lit(RootCap)).as("cap"), root.as("active"))
        .repartition(graph.numPartitions, col("id"))),
      step = c => Superstep.cutActive(Superstep.withMessages(graph, c.state, Seq("cap"),
          signal = least(col("cap"), col("weight")), combine = max)
        .select(col("id"),
          greatest(col("cap"), col("msg")).as("cap"),
          coalesce(col("msg") > col("cap"), col("msg").isNotNull).as("active"))))
    Result(r.state.where(col("cap").isNotNull).select(col("id"), col("cap")), r.iterations)
  }
}
