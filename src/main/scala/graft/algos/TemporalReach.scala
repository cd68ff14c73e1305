package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Superstep
import graft.syntax._

/**
 * Temporal earliest-arrival reachability (time-respecting paths,
 * Kempe-Kleinberg-Kumar'00 / Wu et al. VLDB'14 semantics): an edge
 * with timestamp t is traversable only at arrival time ≤ t, and
 * traversing it sets the arrival to t. Seeds start at their own
 * timestamps (here: every conversation's turn 0 — "when can each
 * vertex first learn something that originated at a conversation
 * start"). No reference counterpart (the reference graph is static).
 *
 * Label-correcting frontier fixpoint, the SSSP shape with the relax
 * condition t ≥ arr(src) instead of dist+w: arrivals decrease
 * monotonically over the finite edge-time set, so it converges; all
 * arithmetic is integer epoch-microseconds — zero float surface,
 * exact across engines.
 *
 * Scale notes: the temporal edge table is persisted clustered by
 * src, the frontier joins it co-partitioned, messages partially
 * aggregate (min) before the shuffle — the same Gemini push shape as
 * the other frontier loops. The state is [[Sssp]]'s: one resident
 * `(key, arr, active)` row per vertex on [[Superstep.loop]], and a
 * superstep is one left join `state ⋈ msgs` into the lineage cut,
 * whose action also counts the frontier: 2 Spark jobs (the message
 * shuffle's map stage and the cut), pinned by PageRankJobsSpec.
 */
object TemporalReach {

  final case class Result(arrivals: DataFrame, iterations: Int)

  /**
   * @param te    (src_key, dst_key, t) symmetric temporal edges
   *              ([[graft.sources.EdgeBuilder.keyEdgesTemporal]])
   * @param seeds (key, arr) initial arrivals
   * @return (key, arr) earliest arrival for every reached vertex
   */
  def run(te: DataFrame, seeds: DataFrame, numPartitions: Int,
      maxIterations: Int = 100000): Result = {
    val e = te.select(col("src_key").as("src"), col("dst_key").as("dst"), col("t"))
      .repartition(numPartitions, col("src")).persist()
    val r = Superstep.loop("treach", maxIterations)(
      start = _ => Superstep.cutActive(e.select(col("src").as("key"))
        .union(e.select(col("dst").as("key"))).distinct()
        .join(seeds.select(col("key"), col("arr")), Seq("key"), "full")
        .select(col("key"), col("arr"), col("arr").isNotNull.as("active"))
        .repartition(numPartitions, col("key"))),
      step = { c =>
        val msgs = e
          .join(c.state.where(col("active")).select(col("key").as("src"), col("arr"))
            .hint("shuffle_hash"), "src")
          .where(col("t") >= col("arr")) // time-respecting relax
          .groupBy(col("dst").as("key")).agg(min(col("t")).as("msg"))
        Superstep.cutActive(c.state.join(msgs.hint("shuffle_hash"), Seq("key"), "left")
          .select(col("key"), least(col("arr"), col("msg")).as("arr"),
            // an earlier arrival, or a first one
            coalesce(col("msg") < col("arr"), col("msg").isNotNull).as("active")))
      })
    val arrivals = r.state.where(col("arr").isNotNull).select(col("key"), col("arr")).graftCut
    r.state.graftFree()
    e.unpersist(blocking = false)
    Result(arrivals, r.iterations)
  }
}
