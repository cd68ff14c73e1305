package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Deterministic parallel local-search MAX-CUT: start from a
 * hash-random 2-coloring (a 1/2-approximation in expectation), then
 * improve with Luby-style independent local moves — per round, the
 * FLIP SET is an independent set of positive-gain vertices (a
 * candidate flips only if its priority beats every candidate
 * neighbor's), so flips never interact and each round's cut size
 * increases MONOTONICALLY (a synchronized "all gainers flip" rule
 * would livelock on bipartite regions; the engine's MIS/coloring ops
 * use the same symmetry break).
 *
 * Fully deterministic and oracle-replayable: the initial side and
 * the priority both derive from md5(key) — the priority string
 * π(v) = md5-prefix(10 hex chars) ∥ '|' ∥ key is FIXED-WIDTH-prefixed
 * and unique, so string-min ≡ (hash, key) lexicographic min in both
 * engines, no tie surface.
 *
 * Per round TWO dense gathers on the symmetric layout (side sums →
 * gain; candidate priorities → independence) + one co-partitioned
 * merge. The edge side never re-shuffles.
 */
object MaxCut {

  /** @return (id, side) after `rounds` independent-set local moves */
  def run(graph: LinkGraph, rounds: Int = 4): DataFrame = {
    require(graph.symmetric, "max-cut local search runs on the undirected graph")
    val deg = graph.degrees.select(col("id"), col("out_degree").as("deg"))
    // (id, side, pi): side = md5 bit; pi = unique fixed-width priority
    var side: DataFrame = graph.vertices
      .select(col("id"),
        (expr("cast(conv(substring(md5(concat('mc|', key)), 1, 10), 16, 10) as bigint)")
          % 2).cast("long").as("side"),
        concat(substring(md5(concat(lit("mx|"), col("key"))), 1, 10),
          lit("|"), col("key")).as("pi"))
      .repartition(graph.numPartitions, col("id"))
      .graftCut
    var prev = side

    for (_ <- 1 to rounds) {
      val msgs = Superstep.gather(
        graph, side.select(col("id"), col("side")),
        signal = col("side"), combine = sum)
      // positive-gain candidates: more same-side than cross-side nbrs
      val cand = side
        .join(msgs, Seq("id"), "left")
        .join(deg, "id")
        .where(
          when(col("side") === 1L, coalesce(col("msg"), lit(0L)))
            .otherwise(col("deg") - coalesce(col("msg"), lit(0L))) * 2 > col("deg"))
        .select(col("id"), col("pi"))
      val (candCut, nCand) = cand.graftCutCount
      if (nCand > 0) {
        val nbrMin = Superstep.gather(graph, candCut, signal = col("pi"), combine = min)
        side = side
          .join(candCut.select(col("id"), col("pi").as("cpi")), Seq("id"), "left")
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            when(col("cpi").isNotNull &&
              (col("msg").isNull || col("cpi") < col("msg")),
              lit(1L) - col("side")).otherwise(col("side")).as("side"),
            col("pi"))
          .repartition(graph.numPartitions, col("id"))
          .graftCut
        prev.graftFree()
        candCut.graftFree()
        prev = side
      } else {
        // no positive-gain candidate this round: the (empty) cut
        // still holds a cached partition set — free it
        candCut.graftFree()
      }
    }
    side.select(col("id"), col("side"))
  }
}
