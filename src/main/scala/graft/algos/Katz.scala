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
 */
object Katz {

  final case class Result(katz: DataFrame, iterations: Int)

  /** @return katz: (id, katz_x) with katz_x = 8^K · Σ α^k paths_k(v),
   * an exact long. */
  def run(graph: LinkGraph, iterations: Int = 5): Result = {
    val parts = graph.numPartitions
    // paths_0 = 1 for every vertex; acc carries the Horner sum
    var p = graph.vertices.select(col("id"), lit(1L).as("c"))
      .repartition(parts, col("id")).graftCut
    var acc = graph.vertices.select(col("id"), lit(0L).as("x"))
      .repartition(parts, col("id")).graftCut
    var i = 0
    while (i < iterations) {
      i += 1
      // one dense superstep: every vertex with a nonzero walk count
      // signals it along out-edges; sum per destination
      val msgs = Superstep.gather(
        graph, p, signal = col("c"), combine = sum)
      val pNext = graph.vertices.select(col("id"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("c"))
        .repartition(parts, col("id"))
        .graftCut
      val accNext = acc
        .join(pNext.select(col("id"), col("c")), "id")
        .select(col("id"), (col("x") * lit(8L) + col("c")).as("x"))
        .graftCut
      p.graftFree(); acc.graftFree()
      p = pNext; acc = accNext
    }
    p.graftFree()
    Result(acc.select(col("id"), col("x").as("katz_x")), iterations)
  }
}
