package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * k-core decomposition (fixed k): the maximal subgraph in which every
 * vertex has degree ≥ k, computed by iterative peeling — remove every
 * vertex whose degree among SURVIVORS is < k, repeat to fixpoint.
 * Beyond-reference link-graph operator (classic for spam/bot
 * neighborhood detection on web graphs; on the transcript graph the
 * 2-core is exactly the conversation segments braided together by
 * shared tools — pure linear chains peel away).
 *
 * Spark shape per peel round (same skeleton as the HashMin CC loop):
 * ONE dense/sparse-adaptive gather counts each destination's alive
 * in-neighbors (`signal = 1, combine = sum` — degree-among-alive for
 * every vertex in one co-partitioned join, the edge side never
 * re-shuffles), then the survivor filter + count is the lineage-cut
 * materialization — two jobs per round, O(peel depth) rounds with
 * data-dependent termination like cc.cpp:39.
 *
 * @return (id, core_degree) for every vertex of the k-core, where
 *         core_degree is its degree WITHIN the core
 */
object KCore {

  final case class Result(core: DataFrame, rounds: Int, aliveHistory: Seq[Long])

  /**
   * Full core decomposition: coreness(v) = max k with v in the
   * k-core, computed as increasing-k peels ([[run]] reused verbatim)
   * until the core empties — k-cores nest, so the per-k assignment
   * just overwrites upward. Peel count = degeneracy + 1 (tiny on
   * real link graphs); every vertex here has degree ≥ 1, so
   * coreness ≥ 1 everywhere.
   *
   * @return (id, coreness) for every vertex
   */
  def coreness(graph: LinkGraph, maxK: Int = 64): DataFrame = {
    var out = graph.vertices.select(col("id"), lit(0L).as("coreness")).graftCut
    var k = 1
    var stop = false
    while (!stop && k <= maxK) {
      val core = run(graph, k).core
      if (core.count() == 0) stop = true
      else {
        val prev = out
        out = out.join(core.select(col("id"), lit(true).as("inc")), Seq("id"), "left")
          .select(col("id"),
            when(col("inc"), lit(k.toLong)).otherwise(col("coreness")).as("coreness"))
          .graftCut
        prev.graftFree()
        core.graftFree()
        k += 1
      }
    }
    out
  }

  def run(
      graph: LinkGraph,
      k: Int,
      maxRounds: Int = 10000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 5,
      resume: Boolean = false): Result = {
    require(graph.symmetric, "k-core is defined on the undirected graph")
    require(k >= 1, "k must be >= 1")

    var alive: DataFrame = null
    var n = 0L
    var rounds = 0
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(r) =>
        val (a, cnt) = ckpt.get.load(graph.spark, r)
          .repartition(graph.numPartitions, col("id"))
          .graftCutCount
        alive = a
        n = cnt
        rounds = r
      case None =>
        alive = graph.vertices.select(col("id"), lit(1L).as("v")).graftCut
        n = graph.numVertices
    }
    var prev: DataFrame = alive
    val history = scala.collection.mutable.ArrayBuffer[Long]()
    var degNow: DataFrame = null
    var done = false

    while (!done && rounds < maxRounds) {
      // While most vertices survive, the gather is dense with near
      // certainty — skip the exact frontier-mass job (one job/round
      // saved; mass only matters near the |E|/20 push threshold,
      // unreachable when alive covers > 1/8 of the graph)
      val mass =
        if (n > graph.numVertices / 8) graph.numEdges
        else Superstep.massOrBound(graph, alive, n)
      val msgs = Superstep.gather(
        graph, alive, signal = col("v"), combine = sum,
        activeEdges = mass, activeCount = n)
      val (next, nNew) = alive.select(col("id"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("deg"))
        .where(col("deg") >= k)
        .select(col("id"), lit(1L).as("v"), col("deg"))
        .graftCutCount
      rounds += 1
      history += nNew
      if (nNew == n) {
        degNow = next.select(col("id"), col("deg"))
        done = true
      } else {
        prev.graftFree()
        prev = next
        alive = next.select(col("id"), col("v"))
        n = nNew
        if (ckpt.nonEmpty && rounds % ckptEvery == 0)
          ckpt.get.save(alive, rounds, n)
      }
      if (n == 0) done = true
    }
    // maxRounds interrupt, unless the cadence already saved this round
    if (!done && rounds % ckptEvery != 0) ckpt.foreach(_.save(alive, rounds, n))
    val core =
      if (degNow != null) degNow
      else alive.select(col("id"), lit(0L).as("deg")).limit(0) // empty core
    Result(core.select(col("id"), col("deg").as("core_degree")), rounds, history.toSeq)
  }
}
