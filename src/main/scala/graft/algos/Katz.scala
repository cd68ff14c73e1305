package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Katz centrality, truncated series, attenuation α = 1/8:
 *
 *   katz(v) = Σ_{k=1..K} α^k · paths_k(v)
 *
 * where paths_k(v) = number of length-k directed walks ENDING at v.
 * Built on the same dense gather as PageRank (5 full supersteps, sum
 * combiner over in-edges — toolkits/pagerank.cpp:55-79's schedule with
 * path counts instead of rank mass).
 *
 * Exactness: walk counts are integers and α = 1/8 is dyadic, so the
 * whole series is computed in scaled-integer (Horner) form —
 * `katz_x(v) = Σ 8^(K-k) · paths_k(v) = 8^K · katz(v)` — and is
 * bit-identical in any engine. Walk counts through a transcript graph
 * stay small (chains have in-degree 1; tool vertices are sinks), but
 * callers on denser graphs should watch the 8^K·paths magnitude —
 * at K=5 the scale factor alone is 4096.
 *
 * Schedule: one resident state `(id, c, x)` — the walk count and the
 * Horner sum — on [[Superstep.loop]]; a superstep is one
 * [[Superstep.withMessages]] join into the lineage cut, 2 Spark jobs
 * (the message shuffle's map stage and the cut), pinned by
 * PageRankJobsSpec.
 */
object Katz {

  final case class Result(katz: DataFrame, iterations: Int)

  /** @return katz: (id, katz_x) with katz_x = 8^K · Σ α^k paths_k(v),
   * an exact long. */
  def run(graph: LinkGraph, iterations: Int = 5): Result = {
    // paths_0 = 1 for every vertex; x carries the Horner sum
    val r = Superstep.loop("katz", iterations)(
      start = _ => Superstep.Cut(
        graph.vertices.select(col("id"), lit(1L).as("c"), lit(0L).as("x"))
          .repartition(graph.numPartitions, col("id")).graftCut,
        graph.numVertices, more = true),
      step = c => {
        val walks = coalesce(col("msg"), lit(0L))
        Superstep.Cut(Superstep.withMessages(graph, c.state, Seq("c"), col("c"), sum)
          .select(col("id"), walks.as("c"), (col("x") * lit(8L) + walks).as("x"))
          .graftCut, c.count, more = true)
      })
    Result(r.state.select(col("id"), col("x").as("katz_x")), iterations)
  }
}
