package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * HITS (hubs & authorities, Kleinberg) — beyond-reference link-graph
 * algorithm on the DIRECTED graph; the natural companion to PageRank
 * for transcript link analysis (a turn that invokes many
 * heavily-referenced tools is a hub; a tool invoked by many strong
 * hubs is an authority).
 *
 * Unnormalized fixed-iteration variant: scores stay EXACT integers
 * (Long sums of Longs), so the DuckDB oracle reproduces them
 * bit-for-bit with no floating-point rounding surface at all — the
 * per-iteration L2 normalization of classic HITS only rescales the
 * ranking, it never reorders it. Callers wanting normalized scores
 * divide by the max (or L2 norm) of the final vectors.
 *
 * Per iteration, two dense gathers on the dual layouts (the
 * reference's CSR/CSC pairing, core/graph.hpp:119-124, is exactly
 * what makes both directions shuffle-free on the edge side):
 *
 *   auth[v] = Σ hub[u]   over in-edges  u→v   (gather on edgesBySrc)
 *   hub[v]  = Σ auth[w]  over out-edges v→w   (gather on transpose)
 *
 * All vertices are always active. The resident state `(id, auth,
 * hub)` is also the checkpoint's layout; one [[Superstep.loop]]
 * superstep runs both gathers. The auth rows are cut before the hub
 * gather reads them: a plan that read them twice (as output and as
 * gather input) would run the auth gather twice, since Spark reuses
 * no exchange across the two copies of a cut state that a self-join
 * plans. So an iteration is 4 Spark jobs, pinned by PageRankJobsSpec:
 * each gather's message shuffle map stage and each cut.
 */
object Hits {

  final case class Result(scores: DataFrame, iterations: Int)

  def run(
      graph: LinkGraph,
      iterations: Int = 4,
      saltBuckets: Int = -1,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): Result = {
    require(iterations >= 1, "HITS needs at least one iteration")
    val salt = Superstep.resolveSalt(graph, saltBuckets)
    val rev = graph.transpose
    // `rows` plus `to` = Σ `from` over each vertex's in-edges in g.
    // [[Superstep.withMessages]] does not fit: every row is active, so
    // the state carries no `active` flag, and the hub gather reads the
    // cut auth rows, not a loop state.
    def plus(g: LinkGraph, rows: DataFrame, from: String, to: String): DataFrame =
      rows.join(Superstep.gather(g, rows.select(col("id"), col(from).as("v")),
          signal = col("v"), combine = sum, saltBuckets = salt).hint("shuffle_hash"),
          Seq("id"), "left")
        .select(col("id"), col(from), coalesce(col("msg"), lit(0L)).as(to))
    val r = Superstep.loop("hits", iterations, ckpt, ckptEvery, resume)(
      start = { resumed =>
        val st = resumed match {
          case Some(k) => ckpt.get.load(graph.spark, k)
          case None => graph.degrees.select(col("id"), lit(0L).as("auth"), lit(1L).as("hub"))
        }
        Superstep.Cut(st.repartition(graph.numPartitions, col("id")).graftCut,
          graph.numVertices, more = true)
      },
      step = { c =>
        val auth = plus(graph, c.state.select(col("id"), col("hub")), "hub", "auth")
          .select(col("id"), col("auth")).graftCut
        val next = plus(rev, auth, "auth", "hub").graftCut
        auth.graftFree()
        Superstep.Cut(next, graph.numVertices, more = true)
      })
    Result(r.state, r.iterations)
  }
}
