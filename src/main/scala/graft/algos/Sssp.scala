package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Single-source shortest paths (weighted), transcribing
 * /root/reference/toolkits/sssp.cpp:24-105:
 *
 *  - `distance[root] = 0`, everything else the 1e9 sentinel (:33-34)
 *    — here a null `dist`.
 *  - relax: `min(distance[src] + weight)` over the frontier's
 *    out-edges (`write_min`, :46-59); improved vertices form the next
 *    frontier; terminate on empty frontier (:37).
 *
 * Bellman-Ford-style label-correcting supersteps — identical
 * convergence to the reference (it is the same algorithm). Distances
 * are Double (the reference uses float; Double avoids accumulation
 * noise vs the oracle, SURVEY.md §7.4.3).
 *
 * The state `(id, dist, active)` is complete and resident (see
 * [[Superstep.cutActive]]); each superstep is one
 * [[Superstep.withMessages]] join into the lineage cut, whose action
 * also returns the frontier count. That is 2 Spark jobs per superstep
 * (message shuffle's map stage, cut), pinned by PageRankJobsSpec.
 * Checkpoints are the reached rows
 * `(id, dist, improved)`, `improved` being the frontier flag.
 */
object Sssp {

  final case class Result(distances: DataFrame, iterations: Int)

  /** @return distances: (id, dist) for REACHED vertices only. */
  def run(
      graph: LinkGraph,
      rootId: Long,
      maxIterations: Int = 100000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 8,
      resume: Boolean = false): Result = {
    val ids = graph.degrees.select(col("id"))
    val reached = col("dist").isNotNull
    val r = Superstep.loop("sssp", maxIterations, ckpt, ckptEvery, resume)(
      start = resumed => Superstep.cutActive((resumed match {
        case Some(k) =>
          ids.join(ckpt.get.load(graph.spark, k), Seq("id"), "left")
            .withColumn("active", coalesce(col("improved"), lit(false)))
        case None =>
          val root = col("id") === rootId
          ids.select(col("id"), when(root, lit(0.0)).as("dist"), root.as("active"))
      }).select(col("id"), col("dist"), col("active"))
        .repartition(graph.numPartitions, col("id"))),
      step = c => Superstep.cutActive(Superstep.withMessages(graph, c, Seq("dist"),
          signal = col("dist") + col("weight"), combine = min)
        .select(col("id"),
          least(col("dist"), col("msg")).as("dist"),
          // the write_min that won: a first reach or a shorter distance
          coalesce(col("msg") < col("dist"), col("msg").isNotNull).as("active"))),
      saved = _.where(reached).select(col("id"), col("dist"), col("active").as("improved")))
    Result(r.state.where(reached).select(col("id"), col("dist")), r.iterations)
  }
}
