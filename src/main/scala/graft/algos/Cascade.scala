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
 * out-edge, sum-combined) and an accumulate into the count `cnt` of
 * activated in-neighbors, then a threshold test; the counts are exact
 * because every vertex activates in exactly one round and signals
 * exactly once. The state on [[Superstep.loop]] is the reached rows
 * `(id, cnt, act_round, active)` — the seeds and every vertex with an
 * activated in-neighbor, `act_round` null until the vertex activates,
 * `active` the frontier. A round cuts its messages (with the
 * receivers' thresholds), which the new state reads twice, then the
 * state: the rows without a message ∪ the messaged rows, both
 * co-partitioned with the state. 3 Spark jobs (the message shuffle's
 * map stage and the two cuts), pinned by PageRankJobsSpec. The edge
 * side never moves.
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

    var round = 0
    val r = Superstep.loop("cascade", maxRounds)(
      start = _ => Superstep.cutActive(seeds.toDF("id")
        .select(col("id"), lit(0L).as("cnt"), lit(0).as("act_round"), lit(true).as("active"))
        .repartition(graph.numPartitions, col("id"))),
      step = { c =>
        round += 1
        val msgs = Superstep.gather(
            graph, c.state.where(col("active")).select(col("id")), signal = lit(1L), combine = sum)
          .hint("shuffle_hash").join(thresh, "id")
          .graftCut
        val cnt = coalesce(col("cnt"), lit(0L)) + col("msg")
        val fires = col("act_round").isNull && cnt >= col("th")
        val next = Superstep.cutActive(
          c.state.join(msgs.hint("shuffle_hash"), Seq("id"), "left_anti")
            .withColumn("active", lit(false))
            .unionByName(msgs.join(c.state.hint("shuffle_hash"), Seq("id"), "left")
              .select(col("id"), cnt.as("cnt"),
                when(fires, lit(round)).otherwise(col("act_round")).as("act_round"),
                fires.as("active"))))
        msgs.graftFree()
        next
      })
    // the activated rows, cut once; every other cut is freed
    val activated = r.state.where(col("act_round").isNotNull)
      .select(col("id"), col("act_round")).graftCut
    r.state.graftFree()
    thresh.graftFree()
    activated
  }
}
