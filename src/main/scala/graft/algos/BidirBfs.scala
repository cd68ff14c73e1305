package graft.algos

import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Bidirectional s–t BFS: two frontiers grow toward each other and the
 * search stops when the radii certify the best meeting path — the
 * point-to-point distance query a full single-source BFS wastes
 * O(|V|) work on. Each round expands whichever side currently has the
 * SMALLER frontier (the same density statistic `process_edges`
 * switches modes on), so the expensive middle of the graph is entered
 * from the cheaper side.
 *
 * Termination proof sketch: once a meeting vertex v with
 * dS(v) + dT(v) = best exists, any undiscovered shorter path would
 * need a meet vertex outside BOTH visited balls, i.e. with
 * dS > radS and dT > radT, hence length > radS + radT — so when
 * best ≤ radS + radT the answer is final. Disconnected pairs exhaust
 * one frontier and report −1.
 *
 * Scale shape: per round one co-partitioned gather
 * ([[Superstep.gather]]), one anti-join
 * against that side's visited set, one scalar meet-check aggregate
 * against the OTHER side's ball (the Allreduce analog). All state
 * cuts through the lineage cut; superseded cuts are freed each round.
 */
object BidirBfs {

  final case class Result(dist: Long, rounds: Int)

  /** @return dist = s–t hop distance (0 if s == t, −1 if
   *          disconnected) and the number of expansion rounds run. */
  def dist(graph: LinkGraph, sId: Long, tId: Long,
      maxRounds: Int = 100000): Result = {
    val spark = graph.spark
    import spark.implicits._
    if (sId == tId) return Result(0L, 0)
    val np = graph.numPartitions

    def seed(id: Long) = Seq((id, 0L)).toDF("id", "d")
      .repartition(np, col("id")).graftCut

    var visS = seed(sId); var frS = visS; var cntS = 1L; var radS = 0L
    var visT = seed(tId); var frT = visT; var cntT = 1L; var radT = 0L
    var best = Long.MaxValue
    var rounds = 0
    while (best > radS + radT && cntS > 0 && cntT > 0 && rounds < maxRounds) {
      rounds += 1
      val expandS = cntS <= cntT
      val (vis, fr, rad, other) =
        if (expandS) (visS, frS, radS, visT)
        else (visT, frT, radT, visS)
      val msgs = Superstep.gather(graph, fr.select(col("id")), signal = lit(1L), combine = min)
      val (claimed, n) = msgs
        .join(vis, Seq("id"), "left_anti")
        .select(col("id"), lit(rad + 1L).as("d"))
        .graftCutCount
      // meet check: only newly claimed vertices can create new meets
      val cand = claimed
        .join(other.select(col("id"), col("d").as("d2")), "id")
        .agg(min(col("d") + col("d2"))).first()
      if (!cand.isNullAt(0)) best = math.min(best, cand.getLong(0))
      val newVis = vis.unionByName(claimed).graftCut
      vis.graftFree()
      if (fr ne vis) fr.graftFree()
      if (expandS) { visS = newVis; frS = claimed; cntS = n; radS = rad + 1 }
      else { visT = newVis; frT = claimed; cntT = n; radT = rad + 1 }
    }
    Seq(visS, visT, frS, frT).distinct.foreach(_.graftFree())
    Result(if (best == Long.MaxValue) -1L else best, rounds)
  }
}
