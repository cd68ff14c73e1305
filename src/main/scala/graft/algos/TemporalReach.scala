package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
 * the other frontier loops. Job budget: one cut+count per superstep
 * over the improved rows only, with the arrival table a lazy merge
 * chain compacted every [[compactEvery]] supersteps (the chain [[Sssp]]
 * replaced with a resident state over the LinkGraph's degrees; this
 * loop runs over its own key-space edge table instead).
 */
object TemporalReach {

  final case class Result(arrivals: DataFrame, iterations: Int)

  val compactEvery = 4

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
    var arr = seeds.select(col("key"), col("arr"))
      .repartition(numPartitions, col("key")).graftCut
    var frontier = arr
    var active = 1L
    var i = 0
    var base = arr
    var pendingFree = List[DataFrame]()
    while (active > 0 && i < maxIterations) {
      val msgs = e
        .join(frontier.select(col("key").as("src"), col("arr")), Seq("src"))
        .where(col("t") >= col("arr")) // time-respecting relax
        .groupBy(col("dst").as("key")).agg(min(col("t")).as("cand"))
      val (improved, n) = msgs
        .join(arr.select(col("key"), col("arr").as("old")), Seq("key"), "left")
        .where(col("old").isNull || col("cand") < col("old"))
        .select(col("key"), col("cand").as("arr"))
        .graftCutCount
      if (n > 0) {
        pendingFree = frontier :: pendingFree
        arr = arr
          .join(improved.select(col("key"), col("arr").as("na")), Seq("key"), "full_outer")
          .select(col("key"), coalesce(col("na"), col("arr")).as("arr"))
        frontier = improved
      }
      active = n
      i += 1
      if (active > 0 && i % compactEvery == 0) {
        arr = arr.graftCut
        (base :: pendingFree).filter(_ ne frontier).foreach(_.graftFree())
        pendingFree = Nil
        base = arr
      }
    }
    val fin = arr.graftCut
    (base :: frontier :: pendingFree).filter(_ ne fin).distinct.foreach(_.graftFree())
    e.unpersist(blocking = false)
    Result(fin, i)
  }
}
