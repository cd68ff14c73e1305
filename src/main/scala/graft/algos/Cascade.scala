package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Linear-threshold influence cascade (Kempe-Kleinberg-Tardos 2003,
 * deterministic-threshold variant) on the directed transcript graph:
 * a vertex activates once the count of its activated in-neighbors
 * reaches its threshold θ(v); activation is monotone, so the whole
 * process is a frontier fixpoint — exactly the reference's
 * sparse-signal schedule (process_edges over the newly-activated
 * frontier only, core/graph.hpp:1501-1508). Models "tool adoption
 * spread": how far influence radiates from the busiest hub when each
 * turn needs θ of its predecessors on board.
 *
 * Determinism contract: θ(v) = 1 + (h40('lt|'+key) mod in(v)) with
 * h40 the 40-bit md5-prefix hash both engines compute identically
 * (`conv(substring(md5(x),1,10),16,10)` ≡ DuckDB
 * `('0x'||substr(md5(x),1,10))::BIGINT`), so the cascade — round
 * numbers included — replays bit-for-bit in the oracle's unrolled
 * SQL. No RNG anywhere.
 *
 * Per round ONE gather from the newly-activated frontier (+1 per
 * out-edge, sum-combined), an accumulate into the pending-count
 * state, and a threshold test; cum counts equal "activated
 * in-neighbors so far" because every vertex activates in exactly one
 * round and signals exactly once. The frontier is the build side of
 * the co-partitioned gather; the edge side never moves.
 */
object Cascade {

  /** @return (id, act_round) for every activated vertex */
  def run(
      graph: LinkGraph,
      seeds: Seq[Long],
      maxRounds: Int = 8): DataFrame = {
    require(seeds.nonEmpty, "cascade needs at least one seed")
    val spark = graph.spark
    import spark.implicits._

    // θ(v) over vertices with at least one in-edge
    val thresh = graph.degrees
      .where(col("in_degree") >= 1)
      .join(graph.vertices, "id")
      .select(col("id"),
        (lit(1L) + expr(
          "cast(conv(substring(md5(concat('lt|', key)), 1, 10), 16, 10) as bigint)")
          % col("in_degree")).as("th"))
      .repartition(graph.numPartitions, col("id"))
      .graftCut

    var active: DataFrame = seeds.toDF("id")
      .select(col("id"), lit(0).as("act_round")).graftCut
    var frontier: DataFrame = active
    var cum: DataFrame = null
    var round = 0
    var frontierCount = seeds.size.toLong

    while (frontierCount > 0 && round < maxRounds) {
      round += 1
      val msgs = Superstep.gather(
        graph, frontier.select(col("id"), lit(1L).as("v")),
        signal = col("v"), combine = sum)

      // accumulate activated-in-neighbor counts
      val prevCum = cum
      cum =
        (if (cum eq null) msgs.select(col("id"), col("msg").as("cnt"))
         else
           cum.join(msgs, Seq("id"), "full")
             .select(col("id"),
               (coalesce(col("cnt"), lit(0L)) + coalesce(col("msg"), lit(0L)))
                 .as("cnt")))
          .repartition(graph.numPartitions, col("id"))
          .graftCut
      if (prevCum ne null) prevCum.graftFree()

      val (newActive, n) = cum
        .join(thresh, "id")
        .where(col("cnt") >= col("th"))
        .join(active.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(round).as("act_round"))
        .graftCutCount
      // the superseded frontier cut (last round's newActive) is done;
      // skip round 1, where frontier IS the seed `active` cut that
      // the union below still reads
      if (frontier ne active) frontier.graftFree()
      frontier = newActive
      frontierCount = n
      if (n > 0) {
        val prevActive = active
        active = active.unionByName(newActive)
          .repartition(graph.numPartitions, col("id")).graftCut
        prevActive.graftFree()
      }
    }
    // free every auxiliary cut before returning: the trailing
    // frontier (empty or maxRounds-truncated), the cumulative
    // counts, and the threshold table — `active` is already
    // materialized, nothing recomputes through them
    if (frontier ne active) frontier.graftFree()
    if (cum ne null) cum.graftFree()
    thresh.graftFree()
    active
  }
}
