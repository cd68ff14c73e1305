package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * INCREMENTAL PageRank — warm-start maintenance under edge arrivals,
 * the freshness operator for a 10^12-turn ingest where re-running the
 * full power iteration per arrival batch is the one thing you cannot
 * afford. Gauss-Southwell signed residual push on the [[PprPush]]
 * machinery, applied to the GLOBAL (reference-semantics, unnormalized)
 * PageRank system
 *
 *   raw = b + α·Wᵀ raw,   b = 0.15·1,  α = 17/20,
 *   W = out-degree-normalized adjacency over NON-dangling sources
 *   (dangling mass kept in place — pagerank.cpp:86-98 semantics),
 *
 * in exact ×2^40 integer arithmetic so the DuckDB oracle replays the
 * whole trajectory bit-for-bit (the [[PprPush]] exactness contract;
 * a float fixpoint is trajectory-dependent and could not share ANY
 * oracle exactly).
 *
 * Protocol (all bulk-synchronous, deterministic, order-independent):
 *  - Phase 1 (`r1` rounds): cold push on the OLD graph (arrival
 *    edges filtered out — same subgraph trick as
 *    [[ConnectedComponents.incremental]]; the filter preserves the
 *    src clustering so gathers stay co-partitioned). Push at an
 *    active vertex v (r ≥ T·deg, T = 2^20): absorb p += r, emit
 *    share = (17r div 20) div deg per out-edge, keep the floor
 *    leftover in r; dangling v absorbs r and emits nothing. `sent`
 *    accumulates the cumulative per-edge share — the retraction
 *    needs it.
 *  - Retraction (one bulk op) when the arrival edges land: every
 *    affected SOURCE u (out-degree changed) un-absorbs (r += p,
 *    p = 0) and retracts its historical deliveries (r(x) −= sent(u)
 *    for every OLD out-neighbor x, sent(u) = 0). The corrections are
 *    SIGNED residuals that propagate exactly like mass.
 *  - Phase 2 (`r2` rounds): signed push on the NEW graph
 *    (|r| ≥ T·max(deg,1); all divisions sign-split so Spark's
 *    truncating `div` ≡ DuckDB's floor `//` — they agree only on
 *    nonnegative operands).
 *
 * The 100 TB contract is phase 2's locality: after phase 1 converges,
 * every residual is below threshold, so only the retraction sites and
 * the vertices their corrections push above threshold ever activate —
 * touched rows per round ≪ |V| for a small arrival batch (the
 * activeHistory the spec pins), while a cold re-run touches every
 * edge every iteration.
 *
 * Schedule: each phase is one [[Superstep.loop]] over the resident
 * state `(id, d, p, r, sent, active)`, `d` the phase graph's
 * out-degree (joined once per phase) and `active` the push test of a
 * non-dangling vertex. A push round is one [[Superstep.withMessages]]
 * join into the lineage cut, whose action also counts the next
 * round's pushers: 2 Spark jobs (the message shuffle's map stage and
 * the cut), pinned by PageRankJobsSpec. A round without pushers first
 * counts the active danglings (one more job).
 */
object PageRankInc {

  val scale: Long = 1L << 40
  val threshold: Long = 1L << 20
  /** teleport mass b = 0.15·scale, floored once (exact integer). */
  val teleportMass: Long = 3L * scale / 20L

  /** `phase1Seconds` = the cold push on the old graph (what a bench
   * cell pays to SIMULATE the pre-existing batch); `phase2Seconds` =
   * retraction + signed repair push — the operator's real RECURRING
   * cost per arrival batch (the 100 TB contract: ≪ phase 1). */
  final case class Result(
      state: DataFrame, // (id, p, r, sent)
      phase1Rounds: Int,
      phase2Rounds: Int,
      phase1Active: Seq[Long],
      phase2Active: Seq[Long],
      phase1Seconds: Double,
      phase2Seconds: Double)

  /**
   * @param graph       the FULL directed graph (old + arrived edges)
   * @param newEdgePred predicate over (src, dst, weight) rows of
   *                    `graph.edgesBySrc` selecting the arrivals
   */
  def run(graph: LinkGraph, newEdgePred: Column, r1: Int = 10, r2: Int = 6): Result = {
    // ---- old subgraph (same vertex dict + partitioning, arrivals out)
    val oldEdges = graph.edgesBySrc.where(!newEdgePred)
    val oldByDst = graph.edgesByDst.where(!newEdgePred)
    val oldOutD = oldEdges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val oldDegrees = graph.degrees.select(col("id"), col("in_degree"))
      .join(oldOutD, Seq("id"), "left")
      .select(col("id"), coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        col("in_degree"))
      .repartition(graph.numPartitions, col("id"))
    val nOld = oldEdges.count()
    val oldGraph = graph.copy(
      edgesBySrc = oldEdges, edgesByDst = oldByDst,
      degrees = oldDegrees, numEdges = nOld)

    // Once a phase goes idle (no active row at all — neither a
    // pushing non-dangling nor an absorbing dangling) every remaining
    // round is the identity in BOTH engines (the oracle's empty a$i
    // passes state through and its dangling-absorb CASE matches no
    // row), so the loop ends there — large round budgets cost nothing
    // after convergence. The idle test counts active danglings
    // precisely so this claim holds: the oracle absorbs active
    // danglings unconditionally each unrolled round, even in rounds
    // where no non-dangling vertex pushes.
    val h1 = scala.collection.mutable.ArrayBuffer[Long]()
    val h2 = scala.collection.mutable.ArrayBuffer[Long]()
    val t0 = System.nanoTime()
    // ---- phase 1: cold push on the old graph; p = 0, r = b, sent = 0
    val cold = Superstep.loop("pagerank-inc-1", r1)(
      start = _ => Superstep.cutActive(withPushers(signed = false,
        oldDegrees.select(col("id"), col("out_degree").as("d"),
          lit(0L).as("p"), lit(teleportMass).as("r"), lit(0L).as("sent")))),
      step = round(oldGraph, signed = false, h1))
    val t1 = System.nanoTime()

    // ---- retraction: every affected source (a source of an arrival
    // edge) un-absorbs (r += p, p = 0) and retracts its deliveries,
    // −sent(u) to each OLD out-neighbor; the state takes the full
    // graph's out-degrees
    val affected = graph.edgesBySrc.where(newEdgePred)
      .select(col("src").as("id")).distinct()
      .select(col("id"), lit(true).as("aff"))
    val corr = Superstep.gather(
      oldGraph, cold.state.join(affected, "id").select(col("id"), col("sent")),
      signal = -col("sent"), combine = sum)
    val warm = Superstep.loop("pagerank-inc-2", r2)(
      start = { _ =>
        val c = Superstep.cutActive(withPushers(signed = true, cold.state
          .join(affected, Seq("id"), "left")
          .join(corr.hint("shuffle_hash"), Seq("id"), "left")
          .join(graph.degrees, "id")
          .select(col("id"), col("out_degree").as("d"),
            when(col("aff"), lit(0L)).otherwise(col("p")).as("p"),
            (when(col("aff"), col("r") + col("p")).otherwise(col("r"))
              + coalesce(col("msg"), lit(0L))).as("r"),
            when(col("aff"), lit(0L)).otherwise(col("sent")).as("sent"))))
        cold.state.graftFree()
        c
      },
      step = round(graph, signed = true, h2))
    val state = warm.state.select(col("id"), col("p"), col("r"), col("sent")).graftCut
    warm.state.graftFree()
    val t2 = System.nanoTime()

    Result(state, r1, r2,
      h1.toSeq, h2.toSeq, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** |r| in the signed phase, r in the cold one (where r ≥ 0). */
  private def rmag(signed: Boolean): Column = if (signed) abs(col("r")) else col("r")

  /** `state` plus its push flag: a non-dangling vertex whose residual
   * reaches T·d. */
  private def withPushers(signed: Boolean, state: DataFrame): DataFrame =
    state.withColumn("active", col("d") > 0 && rmag(signed) >= lit(threshold) * col("d"))

  // sign-split floors: the engines agree only on nonnegative operands
  private val rem = "CASE WHEN r >= 0 THEN (17 * r) div 20 ELSE -((17 * -r) div 20) END"
  private val share = expr(s"CASE WHEN ($rem) >= 0 THEN ($rem) div d ELSE -((-($rem)) div d) END")

  /** One bulk push round on `g` as a [[Superstep.loop]] step, recording
   * the round's active count in `history`: the pushers, or the active
   * danglings in a round without pushers. Pushers absorb (p += r), emit
   * `share` per out-edge and keep the floor leftover; active danglings
   * absorb (p += r, r = 0); every row adds its incoming shares. A round
   * with neither is idle: the state comes back unchanged and the loop
   * ends. `signed` widens the active test to |r|. */
  private def round(g: LinkGraph, signed: Boolean,
      history: scala.collection.mutable.ArrayBuffer[Long]): Superstep.Cut => Superstep.Cut = { c =>
    val dangling = col("d") === 0 && rmag(signed) >= lit(threshold)
    val n = if (c.count > 0) c.count else c.state.where(dangling).count()
    history += n
    if (n == 0) c.copy(more = false)
    else Superstep.cutActive(withPushers(signed,
      Superstep.withMessages(g, c.state, Seq("r", "d"), share, sum)
        .select(col("id"), col("d"),
          when(col("active") || dangling, col("p") + col("r")).otherwise(col("p")).as("p"),
          (when(col("active"), expr(s"($rem)") - share * col("d"))
            .when(dangling, lit(0L))
            .otherwise(col("r")) + coalesce(col("msg"), lit(0L))).as("r"),
          when(col("active"), col("sent") + share).otherwise(col("sent")).as("sent"))))
      .copy(more = true)
  }
}
