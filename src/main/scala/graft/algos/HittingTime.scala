package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Truncated absorbing-random-walk hitting time — "expected steps from
 * this vertex until the walk first reaches an absorbing vertex",
 * here the tool vertices of the transcript graph: a per-turn
 * *expected turns until the next tool interaction* readout, the
 * random-walk refinement of plain BFS distance-to-a-tool (a walk can
 * wander away; hitting time weights every escape route, which is why
 * it is the standard absorption feature in graph-ML pipelines).
 *
 * The exact hitting time solves a linear system; the engine runs the
 * standard truncated value iteration
 *
 *   h₀ ≡ 0,   hₖ₊₁(v) = 0 (absorbing) | 10⁴ + ⌊Σ_{u∈N(v)} hₖ(u) / d_v⌋
 *
 * which converges to it monotonically from below — `iters` bounds the
 * horizon (a vertex further than `iters` steps reads as "≥ iters").
 * Integer-exact (10⁴-scaled steps, floor division), so the DuckDB
 * oracle replays the rounds bit-for-bit.
 *
 * Scale shape: the PageRank plan shape with a pinned absorbing class
 * and a fixed round count, on [[Superstep.loop]]. The resident state
 * `(id, absorb, d, h)` carries the degree, so a round is one
 * [[Superstep.withMessages]] join (sum-combine) into the lineage cut:
 * 2 Spark jobs (the message shuffle's map stage and the cut), pinned
 * by PageRankJobsSpec. No windows, no driver state beyond the loop
 * counter.
 */
object HittingTime {

  val Scale = 10000L

  /** @param absorbing predicate over the vertex `key` column
   *  @return (id, key, h_e4) for every vertex (absorbing rows at 0) */
  def run(
      graph: LinkGraph,
      absorbing: org.apache.spark.sql.Column,
      iters: Int = 5): DataFrame = {
    require(graph.symmetric, "hitting time expects the symmetrized graph")
    val r = Superstep.loop("hitting", iters)(
      start = _ => Superstep.Cut(
        graph.vertices.join(graph.degrees, "id")
          .select(col("id"), absorbing.cast("boolean").as("absorb"),
            col("out_degree").as("d"), lit(0L).as("h"))
          .repartition(graph.numPartitions, col("id")).graftCut,
        graph.numVertices, more = true),
      step = c => Superstep.Cut(
        Superstep.withMessages(graph, c.state, Seq("h"), col("h"), sum)
          .select(col("id"), col("absorb"), col("d"),
            when(col("absorb"), lit(0L))
              .otherwise(lit(Scale) + expr("coalesce(msg, 0L) div d")).as("h"))
          .graftCut,
        c.count, more = true))
    r.state.join(graph.vertices, "id")
      .select(col("id"), col("key"), col("h").as("h_e4"))
  }
}
