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
 *     Every out-neighbor v of u has color(v) ≤ color(u) (whatever
 *     reaches u reaches v), so every candidate a vertex receives is at
 *     most its own color, and it joins iff the MAX candidate equals
 *     its color: a max-combine [[Superstep.gather]] is exact here.
 *  4. Assigned vertices leave the alive set; repeat.
 *
 * Trivial SCCs peel in bulk: a vertex whose color class contains only
 * unreachable-back vertices is assigned the round its color becomes a
 * root. Outer rounds are bounded by the longest chain of SCCs sharing
 * forward closures — small on real link graphs; `maxRounds` caps it.
 *
 * Schedule: three nested [[Superstep.loop]]s, each over a resident
 * state stepped like [[ConnectedComponents]]' — the outer rounds over
 * `(id, scc, active)` for every vertex (`active` = still alive), the
 * forward coloring over `(id, lbl, active)` and the backward sweep
 * over `(id, lbl, scc, active)` for the alive vertices. A coloring or
 * sweep superstep is one [[Superstep.withMessages]] join into the
 * lineage cut: 2 Spark jobs (the message shuffle's map stage and the
 * cut), pinned by PageRankJobsSpec. Every step is a co-partitioned join
 * or a hash aggregate on the alive subgraph (which shrinks
 * monotonically); nothing is ever collected to the driver. The
 * alive-subgraph filter is two semi joins that preserve the src
 * clustering.
 */
object Scc {

  final case class Result(sccs: DataFrame, rounds: Int)

  /** @return sccs: (id, scc) — scc is the MINIMUM vertex id of the
   * strongly connected component. */
  def run(graph: LinkGraph, maxRounds: Int = 1000): Result = {
    require(!graph.symmetric, "SCC is only interesting on a directed graph")
    val parts = graph.numPartitions

    val r = Superstep.loop("scc", maxRounds)(
      start = _ => Superstep.cutActive(graph.vertices
        .select(col("id"), lit(null).cast("long").as("scc"), lit(true).as("active"))
        .repartition(parts, col("id"))),
      step = { c =>
        val alive = c.state.where(col("active")).select(col("id"))
        // alive×alive edge subset, src-clustered (semi joins keep the
        // probe side's hash partitioning; the explicit repartition is a
        // no-op when AQE already preserved it), and a dst-clustered copy
        // for the backward sweep
        val (aliveE, nE) = graph.edgesBySrc
          .join(alive.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(alive.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"), col("weight"))
          .repartition(parts, col("src"))
          .graftCutCount
        val aliveEByDst = aliveE.repartition(parts, col("dst")).graftCut
        val sub = graph.copy(edgesBySrc = aliveE, edgesByDst = aliveEByDst, numEdges = nE)

        // ---- 1. forward min-id coloring to fixpoint ----
        val colors = Superstep.loop("scc-fw", Int.MaxValue)(
          start = _ => Superstep.cutActive(
            alive.select(col("id"), col("id").as("lbl"), lit(true).as("active"))),
          step = f => Superstep.cutActive(Superstep.withMessages(sub, f.state, Seq("lbl"),
              signal = col("lbl"), combine = min)
            .select(col("id"), least(col("lbl"), col("msg")).as("lbl"),
              coalesce(col("msg") < col("lbl"), lit(false)).as("active")))).state

        // ---- 2/3. backward sweep from the roots within color classes ----
        val isRoot = col("id") === col("lbl")
        val swept = Superstep.loop("scc-bw", Int.MaxValue)(
          start = { _ =>
            val b = Superstep.cutActive(colors.select(col("id"), col("lbl"),
              when(isRoot, col("id")).as("scc"), isRoot.as("active")))
            colors.graftFree()
            b
          },
          step = b => {
            val joins = col("scc").isNull && col("msg") === col("lbl")
            Superstep.cutActive(Superstep.withMessages(sub.transpose, b.state, Seq("scc"),
                signal = col("scc"), combine = max)
              .select(col("id"), col("lbl"), when(joins, col("msg")).otherwise(col("scc")).as("scc"),
                coalesce(joins, lit(false)).as("active")))
          }).state

        // ---- 4. shrink the alive set ----
        val next = Superstep.cutActive(c.state
          .join(swept.select(col("id"), col("scc").as("s2")).hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"), coalesce(col("scc"), col("s2")).as("scc"))
          .withColumn("active", col("scc").isNull))
        Seq(aliveE, aliveEByDst, swept).foreach(_.graftFree())
        next
      })
    require(r.iterations < maxRounds || r.state.where(col("active")).isEmpty,
      s"SCC did not converge in $maxRounds rounds")
    val sccs = r.state.select(col("id"), col("scc")).graftCut
    r.state.graftFree()
    Result(sccs, r.iterations)
  }
}
