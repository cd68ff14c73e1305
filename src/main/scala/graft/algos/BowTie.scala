package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Bow-tie decomposition of a digraph (Broder et al., the classic
 * web-graph structure map): CORE = the largest strongly connected
 * component, IN = vertices that reach the core without being
 * reachable from it, OUT = reachable from the core without reaching
 * it, OTHER = everything else (tendrils/disconnected). A vertex both
 * reaching and reached by the core is mutually reachable with it and
 * therefore already IN the core — so the four classes partition V.
 *
 * Built from three existing primitives: FW-BW SCC labels for the
 * core, then two frontier closures — forward over the edge layout,
 * backward over the O(1) [[LinkGraph.transpose]] (the reference's D5
 * layout swap, core/graph.hpp:758-768). Each closure is one BFS-style
 * loop (co-partitioned gather + anti-join per level).
 *
 * @return (cls, n, min_key, max_key) — one row per non-empty class,
 *         keys being the lexicographic extremes for a hash-stable
 *         census.
 */
object BowTie {

  def census(graph: LinkGraph): DataFrame = {
    val spark = graph.spark
    val np = graph.numPartitions
    val sccs = Scc.run(graph).sccs
      .repartition(np, col("id")).graftCut
    // tie-break by min KEY (ids are dictionary-internal and not
    // key-ordered — the same re-canonicalization q_scc's export does)
    val coreRow = sccs.join(graph.vertices, "id")
      .groupBy(col("scc"))
      .agg(count(lit(1)).as("sz"), min(col("key")).as("mk"))
      .orderBy(desc("sz"), asc("mk")).limit(1).first()
    val coreId = coreRow.getLong(0)
    val core = sccs.where(col("scc") === coreId).select(col("id")).graftCut

    /** Directed closure: all vertices with a path FROM the seed set
     * (seeds included). */
    def closure(g: LinkGraph, seeds: DataFrame): DataFrame = {
      var visited = seeds.repartition(np, col("id")).graftCut
      var frontier = visited
      var cnt = visited.count()
      while (cnt > 0) {
        val msgs = Superstep.gather(g, frontier.select(col("id")), signal = lit(1L), combine = min)
        val (claimed, n) = msgs.select(col("id"))
          .join(visited, Seq("id"), "left_anti").graftCutCount
        val newVis = visited.unionByName(claimed).graftCut
        visited.graftFree()
        if (frontier ne visited) frontier.graftFree()
        visited = newVis; frontier = claimed; cnt = n
      }
      visited
    }

    val out = closure(graph, core)           // reachable FROM core
    val in = closure(graph.transpose, core)  // vertices REACHING core
    val cls = sccs
      .join(out.select(col("id"), lit(1L).as("fwd")), Seq("id"), "left")
      .join(in.select(col("id"), lit(1L).as("bwd")), Seq("id"), "left")
      .select(col("id"),
        when(col("scc") === coreId, "core")
          .when(col("bwd").isNotNull && col("fwd").isNull, "in")
          .when(col("fwd").isNotNull && col("bwd").isNull, "out")
          .otherwise("other").as("cls"))
    val censusDf = cls.join(graph.vertices, "id")
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"))
      .graftCut
    Seq(sccs, core, out, in).foreach(_.graftFree())
    censusDf
  }
}
