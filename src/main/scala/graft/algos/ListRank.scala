package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._

/**
 * Parallel list ranking by pointer doubling (Wyllie's algorithm) —
 * distance from every element to the end of its chain in ⌈log₂ L⌉
 * supersteps instead of the O(L) rounds a frontier relaxation needs.
 *
 * This is THE scale technique for the transcript data's dominant
 * structure: conversations are linked lists of turns (the reference
 * has no analogue — chains are Gemini's worst case too, one superstep
 * per hop). A 10^6-turn conversation costs 20 supersteps here versus
 * 10^6 for BFS-style propagation.
 *
 * Invariant: after every round, `d(v)` = hops from v to `ptr(v)`
 * along the ORIGINAL list (and if `ptr(v)` is null, to the terminal).
 * Jump: `d ← d + d(ptr)`, `ptr ← ptr(ptr)`. Each round is ONE
 * self-join on `ptr` (state is id-clustered; only the probe side
 * re-keys) and ONE materialize job — the active count rides along as
 * a summed indicator column (graftCutSum), no separate count job.
 * Settled rows (null ptr) join nothing and pass through unchanged.
 * Total work O(n log L), the classic Wyllie trade for O(log L) depth.
 *
 * Input is any successor relation — (id, nxt) with nxt null at chain
 * ends; ids may be any equality-comparable type (keys work directly,
 * no dictionary needed). Rows must have at most one successor and at
 * most one predecessor (vertex-disjoint chains).
 */
object ListRank {

  final case class Result(ranks: DataFrame, rounds: Int)

  /** @return ranks: (id, rank, root) — rank = hops from id to its
   * chain's (or in-tree's) terminal element, root = that terminal's
   * id (terminals rank 0, root = self).
   *
   * The successor relation may also be an IN-TREE (several ids
   * sharing one successor): pointer jumping computes depth-to-root on
   * forests with the identical schedule, which is what the
   * tree-contracted critical path ([[DagDepth.runContracted]]) uses.
   * It must be acyclic — a successor cycle never settles (`maxRounds`
   * guards; 64 rounds cover any acyclic input that fits in a long). */
  def run(succ: DataFrame, numPartitions: Int, maxRounds: Int = 64): Result = {
    var state = succ
      .select(col("id"), col("nxt").as("ptr"),
        when(col("nxt").isNull, 0L).otherwise(1L).as("d"),
        when(col("nxt").isNull, col("id")).as("root"))
      .repartition(numPartitions, col("id"))
      .graftCut
    var active = state.where(col("ptr").isNotNull).count()
    var rounds = 0
    while (active > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"ListRank did not settle in $maxRounds rounds — successor cycle?")
      val p = state.select(
        col("id").as("pid"), col("ptr").as("pptr"),
        col("d").as("pd"), col("root").as("proot"))
      val (next, actSum) = state
        .join(p, state("ptr") === p("pid"), "left")
        .select(col("id"), col("pptr").as("ptr"),
          (col("d") + coalesce(col("pd"), lit(0L))).as("d"),
          coalesce(col("root"), col("proot")).as("root"))
        .withColumn("act", when(col("ptr").isNotNull, 1.0).otherwise(0.0))
        .repartition(numPartitions, col("id"))
        .graftCutSum("act")
      state.graftFree()
      state = next
      active = actSum.toLong
    }
    // the ranks are a cut of their own, so the last state can be freed
    val ranks = state.select(col("id"), col("d").as("rank"), col("root")).graftCut
    state.graftFree()
    Result(ranks, rounds)
  }
}
