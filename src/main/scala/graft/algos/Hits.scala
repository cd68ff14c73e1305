package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * HITS (hubs & authorities, Kleinberg) — beyond-reference link-graph
 * algorithm on the DIRECTED graph; the natural companion to PageRank
 * for transcript link analysis (a turn that invokes many
 * heavily-referenced tools is a hub; a tool invoked by many strong
 * hubs is an authority).
 *
 * Unnormalized fixed-iteration variant: scores stay EXACT integers
 * (Long sums of Longs), so the DuckDB oracle reproduces them
 * bit-for-bit with no floating-point rounding surface at all — the
 * per-iteration L2 normalization of classic HITS only rescales the
 * ranking, it never reorders it. Callers wanting normalized scores
 * divide by the max (or L2 norm) of the final vectors.
 *
 * Per iteration, two dense gathers on the dual layouts (the
 * reference's CSR/CSC pairing, core/graph.hpp:119-124, is exactly
 * what makes both directions shuffle-free on the edge side):
 *
 *   auth[v] = Σ hub[u]   over in-edges  u→v   (gather on edgesBySrc)
 *   hub[v]  = Σ auth[w]  over out-edges v→w   (gather on transpose)
 *
 * All vertices are always active ⇒ dense mode, one message exchange
 * per gather; state is re-clustered across each lineage cut.
 */
object Hits {

  final case class Result(scores: DataFrame, iterations: Int)

  def run(
      graph: LinkGraph,
      iterations: Int = 4,
      saltBuckets: Int = -1,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): Result = {
    require(iterations >= 1, "HITS needs at least one iteration")
    val salt = Superstep.resolveSalt(graph, saltBuckets)
    val ids = graph.vertices.select(col("id"))
    val rev = graph.transpose

    // checkpoint carries BOTH vectors (id, auth, hub) per iteration
    var hub: DataFrame = null
    var auth: DataFrame = null
    var startIter = 0
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(iter) =>
        val st = ckpt.get.load(graph.spark, iter)
          .repartition(graph.numPartitions, col("id"))
          .graftCut
        auth = st.select(col("id"), col("auth").as("v"))
        hub = st.select(col("id"), col("hub").as("v"))
        startIter = iter
      case None =>
        hub = ids.select(col("id"), lit(1L).as("v")).graftCut
    }
    var prevHub: DataFrame = hub
    var prevAuth: DataFrame = auth

    for (i <- startIter + 1 to iterations) {
      val aMsgs = Superstep.gather(
        graph, hub, signal = col("v"), combine = sum,
        saltBuckets = salt)
      auth = ids.join(aMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("v"))
        .graftCut
      if (prevAuth ne null) prevAuth.graftFree()
      prevAuth = auth

      val hMsgs = Superstep.gather(
        rev, auth, signal = col("v"), combine = sum,
        saltBuckets = salt)
      hub = ids.join(hMsgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("v"))
        .graftCut
      prevHub.graftFree()
      prevHub = hub
      if (ckpt.nonEmpty && (i % ckptEvery == 0 || i == iterations))
        ckpt.get.save(
          auth.select(col("id"), col("v").as("auth"))
            .join(hub.select(col("id"), col("v").as("hub")), "id"),
          i, graph.numVertices)
    }

    val scores = auth.select(col("id"), col("v").as("auth"))
      .join(hub.select(col("id"), col("v").as("hub")), "id")
    Result(scores, iterations)
  }
}
