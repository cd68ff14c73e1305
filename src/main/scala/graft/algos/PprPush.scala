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
 * the oracle unroll; a round with no active vertex is the fixpoint
 * (the oracle unrolls the rest as identities), so the loop ends there.
 *
 * Schedule: the resident state `(id, deg, p, r, active)` over every
 * vertex on [[Superstep.loop]], `active` being the push test above.
 * A round is one [[Superstep.withMessages]] join from the active rows
 * into the lineage cut, whose action also counts the next round's
 * active rows: 2 Spark jobs (the message shuffle's map stage and the
 * cut), pinned by PageRankJobsSpec. The result keeps the rows where
 * p or r is nonzero, cut once at the end.
 */
object PprPush {

  val scale: Long = 1L << 40
  val threshold: Long = 1L << 20

  final case class Result(state: DataFrame, rounds: Int)

  /** @return state (id, p, r) — sparse: rows where p or r nonzero */
  def run(graph: LinkGraph, seedId: Long, rounds: Int = 6): Result = {
    val pushes = col("deg") > 0 && col("r") >= lit(threshold) * col("deg")
    val rem = col("r") - expr("r div 4")
    val share = expr("(r - r div 4) div deg")
    val r = Superstep.loop("pprpush", rounds)(
      start = _ => Superstep.cutActive(graph.degrees
        .select(col("id"), col("out_degree").as("deg"), lit(0L).as("p"),
          when(col("id") === seedId, lit(scale)).otherwise(lit(0L)).as("r"))
        .withColumn("active", pushes)),
      step = c => Superstep.cutActive(
        Superstep.withMessages(graph, c.state, Seq("r", "deg"), share, sum)
          .select(col("id"), col("deg"),
            when(col("active"), expr("p + r div 4")).otherwise(col("p")).as("p"),
            (when(col("active"), rem - share * col("deg")).otherwise(col("r"))
              + coalesce(col("msg"), lit(0L))).as("r"))
          .withColumn("active", pushes)))
    val state = r.state.where(col("p") =!= 0L || col("r") =!= 0L)
      .select(col("id"), col("p"), col("r")).graftCut
    r.state.graftFree()
    Result(state, rounds)
  }
}
