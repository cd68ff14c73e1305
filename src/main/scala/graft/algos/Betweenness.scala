package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Betweenness centrality from a root, transcribing
 * /root/reference/toolkits/bc.cpp:24-196 (the level-bitmap variant,
 * COMPACT=0):
 *
 * FORWARD (:36-100): level-synchronous BFS accumulating path counts —
 * frontier pushes `σ[src]`; unvisited dsts sum incoming messages into
 * their σ and form the next level; every level's (id, σ) is retained
 * (the reference keeps one bitmap per level, :49,96).
 *
 * BACKWARD (:102-168): on the TRANSPOSED graph (:121 — our dual
 * dst-clustered layout, LinkGraph.transpose), levels unwind deepest-
 * first: each level's members take `dep = 1/σ + Σ dep[child]` where
 * children are the next-deeper level's frontier; the visited guard
 * (reference `dense_selective`) means a vertex receives messages only
 * in the step before its own level pops — transcribed here as the
 * per-step restriction of the merge to that level's members.
 *
 * FINALIZE (:170-176): `bc = (dep − 1/σ) / (1/σ) = dep·σ − 1`.
 * Output restricted to REACHED vertices (the reference computes
 * 1/σ = ∞ → NaN for unreached ones, :184-190 prints them regardless;
 * a NaN column is not a useful contract). Output carries σ too —
 * the reference prints the (dependency, num_paths) pair.
 *
 * Checkpoint: the forward phase (the expensive frontier loop) saves
 * the cumulative (id, sigma, lvl) table per level; resume rebuilds
 * the levels list from the latest snapshot and continues the
 * expansion. The backward pass always runs from the reconstructed
 * levels. All per-level cuts (forward σ levels and backward dep
 * frontiers) are freed once the final bc table materializes.
 */
object Betweenness {

  final case class Result(bc: DataFrame, levels: Int)

  def run(
      graph: LinkGraph,
      rootId: Long,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 4,
      resume: Boolean = false): Result = {
    val spark = graph.spark
    import spark.implicits._

    // ---- forward: levels(k) = (id, sigma) of vertices at depth k
    var levels = List[DataFrame]()
    var frontier: DataFrame = null
    var visited: DataFrame = null
    var frontierCount = 0L
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(k) =>
        val st = ckpt.get.load(spark, k)
          .repartition(graph.numPartitions, col("id")).graftCut
        // rebuild the per-level list from the cumulative snapshot
        val maxLvl = st.agg(max(col("lvl"))).first().getInt(0)
        levels = (0 to maxLvl).map(l =>
          st.where(col("lvl") === l).select(col("id"), col("sigma")).graftCut)
          .reverse.toList
        frontier = levels.head
        visited = st.select(col("id")).graftCut
        frontierCount = frontier.count()
      case None =>
        frontier = Seq((rootId, 1.0)).toDF("id", "sigma")
          .repartition(graph.numPartitions, col("id")).graftCut
        visited = frontier.select(col("id")).graftCut
        levels = frontier :: levels
        frontierCount = 1L
    }

    var visitedBase = visited
    while (frontierCount > 0) {
      val msgs = Superstep.gather(graph, frontier, signal = col("sigma"), combine = sum)
      val (next, n) = msgs.join(visited, Seq("id"), "left_anti")
        .select(col("id"), col("msg").as("sigma")).graftCutCount
      frontierCount = n
      if (frontierCount > 0) {
        // append-only: the per-level frontiers are already cut, so the
        // union is cheap lineage; compact + free the base periodically
        visited = visited.unionByName(next.select(col("id")))
        if (levels.length % 8 == 0) {
          visited = visited.graftCut
          visitedBase.graftFree()
          visitedBase = visited
        }
        frontier = next
        levels = next :: levels
        if (ckpt.nonEmpty && (levels.length % ckptEvery == 0)) {
          val cumulative = levels.reverse.zipWithIndex.map { case (lvl, l) =>
            lvl.select(col("id"), col("sigma"), lit(l).as("lvl"))
          }.reduce(_ unionByName _)
          ckpt.get.save(cumulative, levels.length - 1, frontierCount)
        }
      }
    }
    // levels head = deepest, last = root level
    val depth = levels.length - 1

    // ---- backward on the transposed graph
    val t = graph.transpose
    var depFrontier: DataFrame = null // (id, dep) of the level just processed
    var done: List[DataFrame] = Nil // finished (id, dep) per level
    levels.foreach { lvl =>
      val withInv = lvl.select(col("id"), (lit(1.0) / col("sigma")).as("inv"))
      val dep =
        if (depFrontier == null) withInv.select(col("id"), col("inv").as("dep"))
        else {
          val msgs = Superstep.gather(t, depFrontier, signal = col("dep"), combine = sum)
          // only THIS level's members may receive (visited guard,
          // bc.cpp:139,160): restrict the merge to lvl
          withInv.join(msgs, Seq("id"), "left")
            .select(col("id"), (col("inv") + coalesce(col("msg"), lit(0.0))).as("dep"))
        }
      val cut = dep.graftCut
      depFrontier = cut
      done = cut :: done
    }

    val allDeps = done.reduce(_ unionByName _)
    val sigmas = levels.reverse.zipWithIndex.map { case (lv, l) =>
      lv.select(col("id"), col("sigma"), lit(l).as("lvl"))
    }.reduce(_ unionByName _)
    // Emit the reference's per-vertex report pair (dependencies,
    // num_paths) — bc.cpp:184-190 prints both; σ is an exact integer
    // so it doubles as a hash-exact oracle column. dep and the BFS
    // level ride along so downstream consumers (EdgeBetweenness) use
    // the EXACT backward-pass dependency instead of re-deriving it
    // from bc — the (bc+1)/σ inversion loses low double bits for
    // large dep·σ.
    val bc = allDeps.join(sigmas, "id")
      .select(col("id"), col("sigma"), (col("dep") * col("sigma") - 1.0).as("bc"),
        col("dep"), col("lvl"))
      .graftCut
    ckpt.foreach { c =>
      val cumulative = levels.reverse.zipWithIndex.map { case (lvl, l) =>
        lvl.select(col("id"), col("sigma"), lit(l).as("lvl"))
      }.reduce(_ unionByName _)
      c.save(cumulative, depth, 0L)
    }
    // free every retained per-level cut now that bc is materialized
    (visitedBase :: levels ::: done).filter(_ ne bc).distinct.foreach(_.graftFree())
    Result(bc, depth)
  }

  final case class BatchResult(bc: DataFrame, levels: Int)

  /**
   * Batched multi-root Brandes — K roots in ONE forward/backward pass
   * (the MSBFS trick applied to betweenness): state rows carry a
   * `root` column, every superstep's edge join is shared by all K
   * searches, and messages combine per (dst, root). K roots cost
   * O(diameter) jobs total instead of K·O(diameter) — the job count,
   * not the row count, is the scale bottleneck of per-root loops.
   *
   * This is the building block of SAMPLED approximate betweenness
   * (Brandes-Pich: bc ≈ |V|/K · Σ over K sampled roots of per-root
   * dependency), the only affordable form at 10^12 edges where exact
   * BC's |V| rooted passes are out of the question. The per-(root,
   * vertex) output keeps the σ/dependency pairs exact (reference
   * report shape, bc.cpp:184-190) so the estimator stays a trivial
   * grouped sum.
   *
   * Roots advance in lockstep: levels(l) holds (id, root, sigma) for
   * every pair at distance l FROM ITS ROOT; a root whose search
   * exhausts early simply stops contributing rows. The backward
   * unwind processes global levels deepest-first — a shallow root's
   * leaves enter at their own level with no children, which the sum
   * coalesces to 0, exactly Brandes' base case.
   */
  def runBatch(
      graph: LinkGraph,
      roots: Seq[Long],
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): BatchResult = {
    require(roots.nonEmpty && roots.distinct.size == roots.size, "roots must be distinct")
    val spark = graph.spark
    import spark.implicits._

    def cumulative(lvls: List[DataFrame]): DataFrame =
      lvls.reverse.zipWithIndex.map { case (lvl, l) =>
        lvl.select(col("id"), col("root"), col("sigma"), lit(l).as("lvl"))
      }.reduce(_ unionByName _)

    // ---- forward: per-level (id, root, sigma)
    var levels = List[DataFrame]()
    var frontier: DataFrame = null
    var visited: DataFrame = null
    var frontierCount = 0L
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(k) =>
        val st = ckpt.get.load(spark, k)
          .repartition(graph.numPartitions, col("id")).graftCut
        val maxLvl = st.agg(max(col("lvl"))).first().getInt(0)
        levels = (0 to maxLvl).map(l =>
          st.where(col("lvl") === l).select(col("id"), col("root"), col("sigma")).graftCut)
          .reverse.toList
        frontier = levels.head
        visited = st.select(col("id"), col("root")).graftCut
        frontierCount = frontier.count()
      case None =>
        frontier = roots.map(r => (r, r, 1.0)).toDF("id", "root", "sigma")
          .repartition(graph.numPartitions, col("id")).graftCut
        visited = frontier.select(col("id"), col("root")).graftCut
        levels = frontier :: levels
        frontierCount = roots.size.toLong
    }
    var visitedBase = visited

    def gatherBy(g: LinkGraph, active: DataFrame, valueCol: String): DataFrame =
      Superstep.outEdges(g, active.select(col("id"), col("root"), col(valueCol)))
        .groupBy(col("dst").as("id"), col("root"))
        .agg(sum(col(valueCol)).as(valueCol))

    while (frontierCount > 0) {
      val msgs = gatherBy(graph, frontier, "sigma")
      val (next, n) = msgs.join(visited, Seq("id", "root"), "left_anti")
        .graftCutCount
      frontierCount = n
      if (frontierCount > 0) {
        visited = visited.unionByName(next.select(col("id"), col("root")))
        if (levels.length % 8 == 0) {
          visited = visited.graftCut
          visitedBase.graftFree()
          visitedBase = visited
        }
        frontier = next
        levels = next :: levels
        if (ckpt.nonEmpty && (levels.length % ckptEvery == 0))
          ckpt.get.save(cumulative(levels), levels.length - 1, frontierCount)
      }
    }
    val depth = levels.length - 1

    // ---- backward on the transposed graph, global levels deepest-first
    val t = graph.transpose
    var depFrontier: DataFrame = null // (id, root, dep) of the level just processed
    var done: List[DataFrame] = Nil
    levels.foreach { lvl =>
      val withInv = lvl.select(col("id"), col("root"), (lit(1.0) / col("sigma")).as("inv"))
      val dep =
        if (depFrontier == null)
          withInv.select(col("id"), col("root"), col("inv").as("dep"))
        else {
          val msgs = gatherBy(t, depFrontier, "dep")
          // visited guard (bc.cpp:139,160): only THIS level's members
          // of the SAME root's search may receive
          withInv.join(msgs, Seq("id", "root"), "left")
            .select(col("id"), col("root"),
              (col("inv") + coalesce(col("dep"), lit(0.0))).as("dep"))
        }
      val cut = dep.graftCut
      depFrontier = cut
      done = cut :: done
    }

    val allDeps = done.reduce(_ unionByName _)
    val sigmas = levels.reduce(_ unionByName _)
    val bc = allDeps.join(sigmas, Seq("id", "root"))
      .select(col("id"), col("root"), col("sigma"),
        (col("dep") * col("sigma") - 1.0).as("bc"))
      .graftCut
    ckpt.foreach(_.save(cumulative(levels), depth, 0L))
    (visitedBase :: levels ::: done).filter(_ ne bc).distinct.foreach(_.graftFree())
    BatchResult(bc, depth)
  }
}
