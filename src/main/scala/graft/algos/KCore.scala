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
 * the resident state is the survivor set `(id, core_degree)`, where
 * core_degree is each survivor's degree among the previous survivors.
 * ONE co-partitioned gather counts each vertex's alive in-neighbors
 * (`signal = 1, combine = sum`, the edge side never re-shuffles), and
 * the survivor filter is the lineage cut, whose count is compared with
 * the previous survivor count to detect the fixpoint — 2 Spark jobs
 * per round (message shuffle's map stage, cut), pinned by
 * PageRankJobsSpec; O(peel depth) rounds with data-dependent
 * termination like cc.cpp:39. Checkpoints are the survivors `(id, v)`
 * with v = 2 in the fixpoint round's snapshot and 1 in every other, so
 * a resume from the fixpoint snapshot replays no round.
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

    // survivors of one peel of `alive`: a vertex with fewer than k alive
    // neighbors (k >= 1, so also one with no message) is peeled
    def peel(alive: DataFrame): (DataFrame, Long) = {
      val msgs = Superstep.gather(graph, alive.select(col("id")), signal = lit(1L), combine = sum)
      alive.select(col("id"))
        .join(msgs.hint("shuffle_hash"), "id")
        .where(col("msg") >= k)
        .select(col("id"), col("msg").as("core_degree"))
        .graftCutCount
    }
    val history = scala.collection.mutable.ArrayBuffer[Long]()
    var fixpoint = false
    val r = Superstep.loop("kcore", maxRounds, ckpt, ckptEvery, resume)(
      start = { resumed =>
        val alive = resumed match {
          case Some(i) =>
            val snap = ckpt.get.load(graph.spark, i)
            fixpoint = !snap.where(col("v") === 2L).isEmpty
            snap.select(col("id"))
          case None => graph.degrees.select(col("id"))
        }
        val (s, n) = alive.select(col("id"), lit(null).cast("long").as("core_degree"))
          .repartition(graph.numPartitions, col("id"))
          .graftCutCount
        Superstep.Cut(s, n, more = !fixpoint && n > 0)
      },
      step = { c =>
        val (s, n) = peel(c.state)
        history += n
        fixpoint = n == c.count
        Superstep.Cut(s, n, more = !fixpoint && n > 0)
      },
      saved = _.select(col("id"), lit(if (fixpoint) 2L else 1L).as("v")))
    // a resume from the fixpoint snapshot runs no round, and the
    // snapshot holds no core degrees: one more peel of the stable
    // survivors yields them
    val last =
      if (fixpoint && r.supersteps == 0) { val p = peel(r.state)._1; r.state.graftFree(); p }
      else r.state
    // a maxRounds interrupt, or a peel that emptied the graph: empty core
    val core = if (fixpoint) last else { last.graftFree(); last.limit(0) }
    Result(core, r.iterations, history.toSeq)
  }
}
