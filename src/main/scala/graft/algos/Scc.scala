package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Strongly connected components via the distributed forward-backward
 * coloring algorithm (Orzan's coloring / FW-BW — the standard
 * vertex-centric SCC schedule; no reference toolkit computes SCC, but
 * the machinery is the same superstep core as CC, SURVEY.md §2.4).
 *
 * Each outer round, on the still-unassigned ("alive") subgraph:
 *
 *  1. FORWARD coloring: min-id propagation along OUT-edges to
 *     fixpoint — color(v) = min alive id that reaches v. This is
 *     HashMin (cc.cpp:44-79) run on the directed layout instead of
 *     the symmetric one.
 *  2. Roots: vertices with color(v) = v. For any root r,
 *     SCC(r) = { v : color(v) = r ∧ v ⇝ r }, and r is the minimum id
 *     in its SCC (a smaller mutual neighbor would have recolored r).
 *     Every color class has exactly one root, so all classes peel one
 *     SCC per round, in parallel.
 *  3. BACKWARD sweep: propagate each root's id along IN-edges,
 *     restricted to its own color class — a vertex joins SCC(c) iff
 *     an out-neighbor is already in SCC(c) AND its own color is c.
 *     The color-class check makes a blind min-combine unsafe (a
 *     foreign color could shadow the matching one), so this phase
 *     uses an explicit distinct (vertex, color) candidate join rather
 *     than [[Superstep.gather]]'s single-slot combiner.
 *  4. Assigned vertices leave the alive set; repeat.
 *
 * Trivial SCCs peel in bulk: a vertex whose color class contains only
 * unreachable-back vertices is assigned the round its color becomes a
 * root. Outer rounds are bounded by the longest chain of SCCs sharing
 * forward closures — small on real link graphs; `maxRounds` caps it.
 *
 * Scale: every step is a co-partitioned join or a hash aggregate on
 * the alive subgraph (which shrinks monotonically); nothing is ever
 * collected to the driver. The alive-subgraph filter is two semi
 * joins that preserve the src clustering.
 */
object Scc {

  final case class Result(sccs: DataFrame, rounds: Int)

  /** @return sccs: (id, scc) — scc is the MINIMUM vertex id of the
   * strongly connected component. */
  def run(graph: LinkGraph, maxRounds: Int = 1000): Result = {
    require(!graph.symmetric, "SCC is only interesting on a directed graph")
    val parts = graph.numPartitions

    var alive = graph.vertices.select(col("id"))
      .repartition(parts, col("id")).graftCut
    var aliveCount = alive.count()
    var assignedParts = List[DataFrame]()
    var round = 0

    while (aliveCount > 0 && round < maxRounds) {
      round += 1
      // alive×alive edge subset, src-clustered (semi joins keep the
      // probe side's hash partitioning; the explicit repartition is a
      // no-op when AQE already preserved it)
      val (aliveE, nE) = graph.edgesBySrc
        .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"), col("weight"))
        .repartition(parts, col("src"))
        .graftCutCount
      val sub = graph.copy(
        edgesBySrc = aliveE,
        edgesByDst = aliveE, // backward phase repartitions explicitly
        numEdges = nE)

      // ---- 1. forward min-id coloring to fixpoint ----
      var colors = alive.select(col("id"), col("id").as("lbl")).graftCut
      var frontier = colors
      var active = aliveCount
      var pendingFree = List[DataFrame]()
      var base = colors
      var it = 0
      while (active > 0) {
        it += 1
        val msgs = Superstep.gather(sub, frontier, signal = col("lbl"), combine = min)
        val (improved, n) = msgs
          .join(colors.select(col("id"), col("lbl").as("old")), Seq("id"), "left")
          .where(col("msg") < col("old"))
          .select(col("id"), col("msg").as("lbl"))
          .graftCutCount
        if (n > 0) {
          pendingFree = frontier :: pendingFree
          colors = colors
            .join(improved.select(col("id"), col("lbl").as("nl")), Seq("id"), "left")
            .select(col("id"), coalesce(col("nl"), col("lbl")).as("lbl"))
          frontier = improved
        }
        active = n
        if (active > 0 && it % 4 == 0) {
          colors = colors.graftCut
          (base :: pendingFree).filter(_ ne frontier).foreach(_.graftFree())
          pendingFree = Nil
          base = colors
        }
      }
      val colorsFin = colors.graftCut
      (base :: frontier :: pendingFree).filter(_ ne colorsFin).distinct
        .foreach(_.graftFree())

      // ---- 2/3. backward sweep from the roots within color classes ----
      // dst-clustered alive edges for the reverse direction
      val aliveEByDst = aliveE.repartition(parts, col("dst")).graftCut
      var sccNow = colorsFin.where(col("id") === col("lbl"))
        .select(col("id"), col("lbl").as("scc")).graftCut // roots
      var bFrontier = sccNow
      var bActive = bFrontier.count()
      var bPending = List[DataFrame]()
      while (bActive > 0) {
        // predecessors of the newly assigned, carrying the scc color;
        // distinct BEFORE the color check keeps one row per (v, c)
        val cand = aliveEByDst
          .join(bFrontier.select(col("id").as("dst"), col("scc")), "dst")
          .select(col("src").as("id"), col("scc"))
          .distinct()
        val (accepted, n) = cand
          .join(colorsFin, "id")
          .where(col("scc") === col("lbl"))
          .join(sccNow.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("scc"))
          .graftCutCount
        bPending = bFrontier :: bPending
        if (n > 0) sccNow = sccNow.unionByName(accepted)
        bFrontier = accepted
        bActive = n
      }
      val assigned = sccNow.graftCut
      bPending.filter(_ ne assigned).foreach(_.graftFree())

      // ---- 4. shrink the alive set ----
      val nextAlive = alive
        .join(assigned.select(col("id")), Seq("id"), "left_anti")
        .repartition(parts, col("id"))
      val (nextCut, nextCount) = nextAlive.graftCutCount
      assignedParts = assigned :: assignedParts
      alive.graftFree(); aliveE.graftFree(); aliveEByDst.graftFree()
      colorsFin.graftFree()
      alive = nextCut
      aliveCount = nextCount
    }
    require(aliveCount == 0, s"SCC did not converge in $maxRounds rounds")
    alive.graftFree()
    val out = assignedParts.reduce(_ unionByName _)
      .repartition(parts, col("id")).graftCut
    assignedParts.foreach(_.graftFree())
    Result(out, round)
  }
}
