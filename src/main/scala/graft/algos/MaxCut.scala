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
 * merge, on [[Superstep.loop]] with the resident state `(id, deg,
 * side, pi)`. The edge side never re-shuffles. 4 Spark jobs per round
 * (each gather's map stage, the candidate cut and the state cut),
 * pinned by PageRankJobsSpec; a round with no candidate is the
 * fixpoint and ends the loop after its first 2.
 */
object MaxCut {

  /** @return (id, side) after `rounds` independent-set local moves */
  def run(graph: LinkGraph, rounds: Int = 4): DataFrame = {
    require(graph.symmetric, "max-cut local search runs on the undirected graph")
    // (id, deg, side, pi): side = md5 bit; pi = unique fixed-width priority
    val r = Superstep.loop("maxcut", rounds)(
      start = _ => Superstep.Cut(
        graph.vertices.join(graph.degrees, "id")
          .select(col("id"), col("out_degree").as("deg"),
            (expr("cast(conv(substring(md5(concat('mc|', key)), 1, 10), 16, 10) as bigint)")
              % 2).cast("long").as("side"),
            concat(substring(md5(concat(lit("mx|"), col("key"))), 1, 10),
              lit("|"), col("key")).as("pi"))
          .repartition(graph.numPartitions, col("id"))
          .graftCut,
        graph.numVertices, more = true),
      step = { c =>
        // positive-gain candidates: more same-side than cross-side nbrs
        val same = coalesce(col("msg"), lit(0L))
        val (cand, nCand) = Superstep.withMessages(graph, c.state, Seq("side"), col("side"), sum)
          .where(when(col("side") === 1L, same).otherwise(col("deg") - same) * 2 > col("deg"))
          .select(col("id"), col("pi"))
          .graftCutCount
        val next =
          if (nCand == 0) c.copy(more = false)
          else {
            val nbrMin = Superstep.gather(graph, cand, signal = col("pi"), combine = min)
            Superstep.Cut(c.state
              .join(cand.select(col("id"), col("pi").as("cpi")).hint("shuffle_hash"), Seq("id"), "left")
              .join(nbrMin.hint("shuffle_hash"), Seq("id"), "left")
              .select(col("id"), col("deg"),
                when(col("cpi").isNotNull &&
                  (col("msg").isNull || col("cpi") < col("msg")),
                  lit(1L) - col("side")).otherwise(col("side")).as("side"),
                col("pi"))
              .graftCut, c.count, more = true)
          }
        cand.graftFree()
        next
      })
    r.state.select(col("id"), col("side"))
  }
}
