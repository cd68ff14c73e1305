package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LinkGraph, Superstep}

/**
 * Bipartiteness / odd-cycle census per connected component: a parity
 * BFS from every component's representative at once (seeds come in as
 * a DataFrame — no driver-side root list, so a graph with millions of
 * components costs the same one frontier loop), then one join pass
 * counting CONFLICT edges — edges whose endpoints sit at equal BFS
 * parity. A component is bipartite iff it has zero conflict edges
 * (König); each conflict edge certifies an odd cycle through the BFS
 * tree. The 2-colorability gate behind sign-consistent embeddings and
 * two-mode modeling of an unknown graph.
 *
 * Determinism: levels are MIN distances from the component's
 * lexicographically smallest KEY (ids are hash-assigned and engine-
 * internal, so the seed is pinned in key space) — unique regardless
 * of traversal schedule. In a non-bipartite component the conflict
 * EDGE SET depends on the seed (only the zero/non-zero verdict does
 * not), so the seed choice is part of the cross-engine contract.
 *
 * Scale shape: [[MultiSourceBfs]] with one root per component but
 * WITHOUT the K-fold state: each vertex is reached by exactly its own
 * component's seed, so the state is [[Bfs]]'s complete resident
 * `(id, level, active)`, a null `level` while unreached; the frontier
 * loop is O(max component diameter) supersteps of 2 Spark jobs each;
 * the conflict count is one co-partitioned join over the oriented edge
 * set.
 */
object OddCycle {

  final case class Result(census: DataFrame, rounds: Int)

  /** @param labels (id, lbl) from any CC run on the same graph
   *  @return census: (component, n_vertices, n_conflicts, bipartite)
   *          — component named by its smallest member key. */
  def run(graph: LinkGraph, labels: DataFrame, maxIterations: Int = 100000): Result = {
    require(graph.symmetric, "parity BFS expects the symmetrized graph")
    val np = graph.numPartitions

    val seeds = labels.join(graph.vertices, "id")
      .groupBy(col("lbl")).agg(min_by(col("id"), col("key")).as("id"))
      .select(col("id"), lit(0).as("level"))
    val r = Superstep.loop("oddcycle", maxIterations)(
      start = _ => Superstep.cutActive(graph.degrees.join(seeds, Seq("id"), "left")
        .select(col("id"), col("level"), col("level").isNotNull.as("active"))
        .repartition(np, col("id"))),
      step = c => Superstep.cutActive(Superstep.withMessages(graph, c, Seq("level"),
          signal = col("level") + 1, combine = min)
        .select(col("id"), coalesce(col("level"), col("msg")).as("level"),
          (col("level").isNull && col("msg").isNotNull).as("active"))))
    val lv = r.state.where(col("level").isNotNull).select(col("id"), col("level"))

    val conflicts = graph.edgesBySrc
      .where(col("src") < col("dst")) // each undirected edge once
      .join(lv.select(col("id").as("src"), col("level").as("ls")), "src")
      .join(lv.select(col("id").as("dst"), col("level").as("ld")), "dst")
      .where((col("ls") + col("ld")) % 2 === 0)
      .join(labels.select(col("id").as("src"), col("lbl")), "src")
      .groupBy(col("lbl")).agg(count(lit(1)).as("n_conflicts"))

    val keyed = labels.join(graph.vertices, "id")
      .select(col("key"), col("lbl"))
    val reps = keyed.groupBy(col("lbl"))
      .agg(min(col("key")).as("component"), count(lit(1)).as("n_vertices"))
    val census = reps.join(conflicts, Seq("lbl"), "left")
      .select(col("component"), col("n_vertices"),
        coalesce(col("n_conflicts"), lit(0L)).as("n_conflicts"),
        (coalesce(col("n_conflicts"), lit(0L)) === 0).cast("long").as("bipartite"))
    Result(census, r.iterations)
  }
}
