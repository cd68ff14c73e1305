package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * BFS parent tree + levels from a root, transcribing
 * /root/reference/toolkits/bfs.cpp:22-109:
 *
 *  - `parent[root] = root`, everything else unvisited (:35-36); here
 *    the unvisited sentinel (`|V|`, bfs.cpp:35) is a null `parent`.
 *  - frontier pushes; unvisited dsts are claimed. The reference claim
 *    is a CAS race (:49-59, parent choice nondeterministic); we pin
 *    `parent = min(src)` — deterministic, levels identical
 *    (SURVEY.md §7.4.3).
 *  - a message to an already visited row changes nothing, the
 *    reference's `dense_selective` skip (bfs.cpp:77,
 *    core/graph.hpp:1663-1689).
 *
 * Every level, small or large, takes the one co-partitioned gather of
 * [[Superstep.gather]]; the reference's |E|/20 push/pull switch has no
 * counterpart here.
 *
 * The state `(id, parent, level, active)` is complete and resident
 * (see [[Superstep.cutActive]]); each level is one
 * [[Superstep.withMessages]] join into the lineage cut, whose action
 * also returns the frontier count. That is 2 Spark jobs per level
 * (message shuffle's map stage, cut), pinned by PageRankJobsSpec.
 * Checkpoints are the reached rows `(id, parent, level)`; a resume
 * re-activates the last level.
 */
object Bfs {

  final case class Result(tree: DataFrame, iterations: Int, found: Long)

  /** @return tree: (id, parent, level) for REACHED vertices only. */
  def run(
      graph: LinkGraph,
      rootId: Long,
      maxIterations: Int = 100000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 8,
      resume: Boolean = false): Result = {
    val ids = graph.degrees.select(col("id"))
    val reached = col("parent").isNotNull
    var level = 0
    val r = Superstep.loop("bfs", maxIterations, ckpt, ckptEvery, resume)(
      start = { resumed =>
        level = resumed.getOrElse(0)
        Superstep.cutActive((resumed match {
          case Some(k) =>
            ids.join(ckpt.get.load(graph.spark, k), Seq("id"), "left")
              .withColumn("active", coalesce(col("level") === k, lit(false)))
          case None =>
            val root = col("id") === rootId
            ids.select(col("id"), when(root, lit(rootId)).as("parent"),
              when(root, lit(0)).as("level"), root.as("active"))
        }).select(col("id"), col("parent"), col("level"), col("active"))
          .repartition(graph.numPartitions, col("id")))
      },
      step = { c =>
        level += 1
        val claimed = !reached && col("msg").isNotNull
        Superstep.cutActive(Superstep.withMessages(graph, c.state, Nil,
            signal = col("src"), combine = min)
          .select(col("id"),
            when(claimed, col("msg")).otherwise(col("parent")).as("parent"),
            when(claimed, lit(level)).otherwise(col("level")).as("level"),
            claimed.as("active")))
      },
      saved = _.where(reached).select(col("id"), col("parent"), col("level")))
    val (tree, found) = r.state.where(reached).select(col("id"), col("parent"), col("level"))
      .graftCutCount
    r.state.graftFree()
    Result(tree, r.iterations, found)
  }
}
