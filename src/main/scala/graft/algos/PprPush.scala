package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Forward push / approximate personalized PageRank (Andersen-Chung-
 * Lang, FOCS'06) — THE local algorithm of the PageRank family: mass
 * moves only where residual remains, so total work is O(1/ε)
 * INDEPENDENT of graph size. The scale story is the inverse of the
 * power-iteration PPR ([[PersonalizedPageRank]] touches every edge
 * every iteration): at 10^12 edges a hub-seeded push query touches
 * only the seed's neighborhood. Here each round's gather still scans
 * the co-partitioned edge table once; only the pushing rows move.
 *
 * Synchronized integer variant (bulk push — all above-threshold
 * vertices push each round; ACL's sequential queue order only
 * changes the approximation path, not the invariant p + walk(r) =
 * pprₑₓₐcₜ). Everything is exact integer arithmetic on ×2^40-scaled
 * mass, so the DuckDB oracle replays the trajectory bit-for-bit:
 *
 *   active: r(v) ≥ T·deg(v)          (T = 2^20 = ε·scale)
 *   p(v)  += r(v) div 4              (teleport α = 1/4, dyadic)
 *   share  s = (r − r div 4) div deg  per out-edge
 *   r(v)   = (r − r div 4) − s·deg   (floor leftovers STAY — mass
 *                                     conservation, engine ≡ oracle)
 *   r(u)  += Σ incoming s
 *
 * Floor leftovers keep sub-share mass in place instead of dropping
 * it; inactive vertices hold their residual. Fixed `rounds` to bound
 * the oracle unroll; each round is one gather from the active set +
 * one co-partitioned merge.
 */
object PprPush {

  val scale: Long = 1L << 40
  val threshold: Long = 1L << 20

  final case class Result(state: DataFrame, rounds: Int)

  /** @return state (id, p, r) — sparse: rows where p or r nonzero */
  def run(graph: LinkGraph, seedId: Long, rounds: Int = 6): Result = {
    val spark = graph.spark
    import spark.implicits._
    val deg = graph.degrees.select(col("id"), col("out_degree").as("deg"))

    var state: DataFrame = Seq((seedId, 0L, scale)).toDF("id", "p", "r")
      .repartition(graph.numPartitions, col("id")).graftCut
    var prev = state

    for (_ <- 1 to rounds) {
      val st = state.join(deg, "id")
        .withColumn("active",
          col("deg") > 0 && col("r") >= lit(threshold) * col("deg"))
      // push legs of the active rows
      val act = st.where(col("active"))
        .select(col("id"),
          col("p"), col("r"), col("deg"),
          (col("r") - expr("r div 4")).as("rem"))
        .select(col("id"), col("p"), col("deg"),
          expr("p + r div 4").as("p2"),
          expr("rem div deg").as("share"),
          (col("rem") - expr("rem div deg") * col("deg")).as("left"))
      val (actCut, nAct) = act.graftCutCount
      if (nAct == 0) {
        // fixpoint: remaining rounds are no-ops (oracle unrolls them
        // as identities); the just-built active cut holds no rows we
        // need — free it or it stays cached for the session
        actCut.graftFree()
        prev = state
      } else {
        val msgs = Superstep.gather(
          graph, actCut.select(col("id"), col("share")),
          signal = col("share"), combine = sum)
        val pushed = st.select(col("id"), col("p"), col("r"), col("active"))
          .join(actCut.select(col("id"), col("p2"), col("left")), Seq("id"), "left")
          .select(col("id"),
            when(col("active"), col("p2")).otherwise(col("p")).as("p"),
            when(col("active"), col("left")).otherwise(col("r")).as("r"))
        // USING full-outer join: Spark emits one coalesced id column
        state = pushed
          .join(msgs, Seq("id"), "full")
          .select(col("id"),
            coalesce(col("p"), lit(0L)).as("p"),
            (coalesce(col("r"), lit(0L)) + coalesce(col("msg"), lit(0L))).as("r"))
          .repartition(graph.numPartitions, col("id"))
          .graftCut
        prev.graftFree()
        actCut.graftFree()
        prev = state
      }
    }
    Result(state, rounds)
  }
}
