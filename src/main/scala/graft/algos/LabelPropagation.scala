package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{LinkGraph, Superstep}

/**
 * Synchronous min-label propagation (north-rule algorithm; no direct
 * reference toolkit — built on the same superstep machinery as CC,
 * SURVEY.md §2.4 A6).
 *
 * Every round EVERY vertex signals its current label and adopts
 * `min(own, min over in-neighbors)`; fixpoint when no label changes.
 * On an undirected graph the fixpoint labels equal HashMin CC's
 * (min id per component) — which is exactly what makes LP
 * exact-match verifiable — but the machinery differs: LP is the
 * always-dense full-scan variant (Gemini's pull mode every round),
 * whereas CC is the frontier/push-enabled variant.
 */
object LabelPropagation {

  final case class Result(labels: DataFrame, iterations: Int, changedHistory: Seq[Long])

  def run(
      graph: LinkGraph,
      maxIterations: Int = 10000,
      saltBuckets: Int = -1): Result = {
    val salt = Superstep.resolveSalt(graph, saltBuckets)
    // (id, lbl, changed): the complete label table, resident across
    // rounds, plus the flag the cut counts. One round = one gather and
    // one left join `state ⋈ msgs` into the cut (hinted as in
    // PageRank.run; both sides clustered by id): 2 Spark jobs.
    val history = scala.collection.mutable.ArrayBuffer[Long]()
    val r = Superstep.loop("lp", maxIterations)(
      start = _ => Superstep.Cut(
        graph.vertices.select(col("id"), col("id").as("lbl"), lit(true).as("changed"))
          .repartition(graph.numPartitions, col("id"))
          .graftCut,
        graph.numVertices, more = true),
      step = { c =>
        val msgs = Superstep.gather(
          graph, c.state.select(col("id"), col("lbl")), signal = col("lbl"), combine = min,
          activeEdges = graph.numEdges, activeCount = graph.numVertices,
          saltBuckets = salt)
        val (next, changed, _) = c.state.join(msgs.hint("shuffle_hash"), Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), col("msg")).as("lbl"),
            coalesce(col("msg") < col("lbl"), lit(false)).as("changed"))
          .graftCutActive("changed")
        history += changed
        Superstep.Cut(next, changed, more = changed != 0)
      })
    Result(r.state.select(col("id"), col("lbl")), r.iterations, history.toSeq)
  }

  /**
   * Community label propagation (Raghavan et al. 2007) — the MODE
   * variant: each round every vertex adopts the most frequent label
   * among its neighbors (tie → lexicographically smallest), run
   * synchronously for a FIXED `rounds`. Unlike the min-propagation
   * above (whose fixpoint is the component), mode-LP finds dense
   * communities inside a component; the fixed round count + min
   * tie-break make it deterministic and oracle-replayable (classic LP
   * randomizes update order — that variant cannot cross an engine
   * boundary bit-for-bit).
   *
   * Works directly on KEYS (labels are keys), so the export needs no
   * id mapping. Per round: one co-keyed label join onto the resident
   * symmetric edge set, one (vertex, label) count aggregate, one
   * top-1-per-vertex reduction via max(struct(cnt, rev-label)) — all
   * hash exchanges, no windows.
   */
  def communities(graph: LinkGraph, rounds: Int = 4): DataFrame = {
    require(graph.symmetric, "community LP expects the symmetrized graph")
    val vk = (idCol: String, keyCol: String) =>
      graph.vertices.select(col("id").as(idCol), col("key").as(keyCol))
    val edges = graph.edgesBySrc
      .join(vk("src", "src_key"), "src")
      .join(vk("dst", "dst_key"), "dst")
      .select(col("src_key"), col("dst_key"))
      .repartition(graph.numPartitions, col("src_key"))
      .graftCut
    var labels = graph.vertices.select(col("key"), col("key").as("community"))
      .repartition(graph.numPartitions, col("key"))
      .graftCut
    for (_ <- 1 to rounds) {
      val counts = edges
        .join(labels.select(col("key").as("src_key"), col("community")), "src_key")
        .groupBy(col("dst_key"), col("community"))
        .agg(count(lit(1)).as("cnt"))
      // top-1 label per vertex: min over (−cnt, label) — one struct-min
      // aggregate (partial-combined before the shuffle, no window sort)
      // gives "highest count, then lexicographically smallest label"
      val top = counts
        .groupBy(col("dst_key").as("key"))
        .agg(min(struct((-col("cnt")).as("negcnt"), col("community"))).as("m"))
        .select(col("key"), col("m.community").as("nc"))
      val next = labels
        .join(top, Seq("key"), "left")
        .select(col("key"), coalesce(col("nc"), col("community")).as("community"))
        .graftCut
      labels.graftFree()
      labels = next
    }
    edges.graftFree()
    labels
  }

  /**
   * Modularity sufficient statistics for a community assignment:
   * per community c, the member count, the intra-community undirected
   * edge count e_c, and the degree sum d_c. Newman modularity is then
   * Q = Σ_c (e_c/m − (d_c/2m)²), i.e. Q·4m² = Σ_c (4m·e_c − d_c²) in
   * pure integers — exporting the raw (exact, overflow-free) sums
   * instead of the assembled Q keeps the result engine-portable at
   * any scale (same pattern as the assortativity statistics,
   * DegreeStats.assortativity).
   *
   * Scale: two co-keyed label joins onto the resident symmetric edge
   * set + two hash aggregates — no window, no collect.
   *
   * @param labels (key, community) — e.g. [[communities]]' output
   */
  def communityStats(graph: LinkGraph, labels: DataFrame): DataFrame = {
    require(graph.symmetric, "modularity is defined on the undirected graph")
    val vk = (idCol: String, keyCol: String) =>
      graph.vertices.select(col("id").as(idCol), col("key").as(keyCol))
    val keyedEdges = graph.edgesBySrc
      .join(vk("src", "src_key"), "src")
      .join(vk("dst", "dst_key"), "dst")
      .select(col("src_key"), col("dst_key"))
    // undirected unique edges with both endpoint labels
    val intra = keyedEdges
      .where(col("src_key") < col("dst_key"))
      .join(labels.select(col("key").as("src_key"), col("community").as("lc_s")), "src_key")
      .join(labels.select(col("key").as("dst_key"), col("community").as("lc_d")), "dst_key")
      .where(col("lc_s") === col("lc_d"))
      .groupBy(col("lc_s").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    // degree = symmetric out-degree; every vertex in this graph has ≥1
    val degs = graph.degrees
      .join(graph.vertices, "id")
      .select(col("key"), col("out_degree"))
      .join(labels, "key")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("out_degree")).as("degree_sum"))
    degs
      .join(intra, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
  }
}
