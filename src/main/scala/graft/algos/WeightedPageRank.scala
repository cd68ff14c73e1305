package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Weighted PageRank: rank mass flows along each out-edge proportional
 * to its weight —
 *
 *   raw_i(v) = (1-d) + d · Σ_{u→v} raw_{i-1}(u) · w(u,v) / wout(u),
 *   wout(u) = Σ out-edge weights of u
 *
 * — the edge-weight generalization of the reference's PageRank
 * (pagerank.cpp:26-129 divides by COUNT; this divides by weight sum,
 * reducing to the reference exactly when all weights are 1). Dangling
 * handling matches the reference: sinks keep their mass undivided and
 * nothing is redistributed (pagerank.cpp:77-84). On the transcript
 * graph tool-call edges carry weight 2.0 vs 1.0 turn-adjacency
 * (sources/EdgeBuilder.scala), so rank drains toward tools twice as
 * fast as along the conversation spine.
 *
 * Plan shape identical to PageRank: all vertices active ⇒ dense
 * co-partitioned gather, signal `v·weight` folds the weighting into
 * the message expression — same single exchange per superstep.
 */
object WeightedPageRank {

  final case class Result(ranks: DataFrame, iterations: Int)

  def run(
      graph: LinkGraph,
      iterations: Int = 5,
      d: Double = 0.85,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false,
      saltBuckets: Int = -1): Result = {
    require(iterations >= 1, "needs at least one iteration")
    val salt = Superstep.resolveSalt(graph, saltBuckets)
    // weighted out-degree (id, wout); vertices with no out-edges get 0
    val wout = graph.vertices.select(col("id"))
      .join(
        graph.edgesBySrc.groupBy(col("src").as("id")).agg(sum(col("weight")).as("wout")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("wout"), lit(0.0)).as("wout"))

    // state (id, raw, v = raw/wout)
    val n = graph.numVertices
    val r = Superstep.loop("wpr", iterations, ckpt, ckptEvery, resume)(
      start = resumed => Superstep.Cut(resumed match {
        case Some(k) =>
          ckpt.get.load(graph.spark, k)
            .repartition(graph.numPartitions, col("id"))
            .graftCut
        case None =>
          wout.select(
            col("id"), lit(1.0).as("raw"),
            when(col("wout") > 0, lit(1.0) / col("wout")).otherwise(lit(1.0)).as("v"))
            .graftCut
      }, n, more = true),
      step = { c =>
        val msgs = Superstep.gather(
          graph, c.state.select(col("id"), col("v")),
          signal = col("v") * col("weight"), combine = sum,
          saltBuckets = salt)
        val next = wout
          .join(msgs, Seq("id"), "left")
          .select(
            col("id"), col("wout"),
            (lit(1.0 - d) + lit(d) * coalesce(col("msg"), lit(0.0))).as("raw"))
          .select(
            col("id"), col("raw"),
            when(col("wout") > 0, col("raw") / col("wout")).otherwise(col("raw")).as("v"))
          .graftCut
        Superstep.Cut(next, n, more = true)
      })
    Result(r.state.select(col("id"), col("raw").as("rank")), iterations)
  }
}
