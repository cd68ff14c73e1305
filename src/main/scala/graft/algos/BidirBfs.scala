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
 * Scale shape: one [[Superstep.loop]] over the reached rows of both
 * searches, `(id, side, d, active)` with side 0 for s and 1 for t;
 * `active` marks the rows the last round claimed, and a side's
 * frontier is its rows at its radius. A round is one co-partitioned
 * gather ([[Superstep.gather]]) from the expanding side's frontier,
 * an anti-join against that side's rows, the union into the lineage
 * cut (whose action counts the claimed rows) and one scalar
 * meet-check aggregate of the claimed rows against the OTHER side's
 * (the Allreduce analog): 4 Spark jobs (the message shuffle's map
 * stage, the cut, and the aggregate's exchange and result), pinned by
 * PageRankJobsSpec.
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

    // per side (0 = s, 1 = t): frontier size and radius
    val cnt = Array(1L, 1L)
    val rad = Array(0L, 0L)
    var best = Long.MaxValue
    def more = best > rad.sum && cnt.forall(_ > 0)
    val r = Superstep.loop("bidir", maxRounds)(
      start = _ => Superstep.cutActive(Seq((sId, 0, 0L, true), (tId, 1, 0L, true))
        .toDF("id", "side", "d", "active")
        .repartition(graph.numPartitions, col("id"))),
      step = { c =>
        val x = if (cnt(0) <= cnt(1)) 0 else 1
        val mine = c.state.where(col("side") === x)
        val msgs = Superstep.gather(graph, mine.where(col("d") === rad(x)).select(col("id")),
          signal = lit(1L), combine = min)
        val claimed = msgs.join(mine.hint("shuffle_hash"), Seq("id"), "left_anti")
          .select(col("id"), lit(x).as("side"), lit(rad(x) + 1L).as("d"), lit(true).as("active"))
        val next = Superstep.cutActive(
          c.state.withColumn("active", lit(false)).unionByName(claimed))
        // meet check: only newly claimed vertices can create new meets
        val meet = next.state.where(col("active"))
          .join(next.state.where(col("side") =!= x).select(col("id"), col("d").as("d2")), "id")
          .agg(min(col("d") + col("d2"))).first()
        if (!meet.isNullAt(0)) best = math.min(best, meet.getLong(0))
        cnt(x) = next.count
        rad(x) += 1
        next.copy(more = more)
      })
    r.state.graftFree()
    Result(if (best == Long.MaxValue) -1L else best, r.iterations)
  }
}
