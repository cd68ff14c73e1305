package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Longest-path depth (critical path) over the DIRECTED transcript
 * graph, which is a DAG by construction: adjacency edges point
 * turn k → k+1 within a conversation and tool edges point into tool
 * sink vertices (sources/EdgeBuilder.scala), so no cycles exist.
 *
 * depth(v) = the maximum number of edges on any directed path ending
 * at v (0 for sources). This is the max-plus twin of SSSP's min-plus
 * relaxation (/root/reference/toolkits/sssp.cpp:24-105): the same
 * frontier loop with `max` for `write_min` (core/atomic.hpp:32-40) —
 * the scheduling/critical-path semantics the reference's fixed
 * toolkit set lacks.
 *
 * Superstep shape: [[Sssp]]'s complete resident state, here
 * `(id, d, active)` with every vertex at d = 0 and active at the
 * start; the active rows join the src-clustered edge table, messages
 * combine per dst with `max`, and one [[Superstep.withMessages]] join
 * into the lineage cut raises `d` and sets the next frontier: 2 Spark
 * jobs per superstep. On a DAG
 * the loop terminates in exactly longest-path-length supersteps;
 * `maxIterations` guards accidental cyclic input (where max-plus
 * diverges). Checkpoints are `(id, d)`.
 */
object DagDepth {

  final case class Result(depth: DataFrame, iterations: Int)

  /** @return depth: (id, d) for EVERY vertex (sources at d = 0). */
  def run(
      graph: LinkGraph,
      maxIterations: Int = 10000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 5,
      resume: Boolean = false): Result = {
    require(!graph.symmetric, "longest path is defined on the directed DAG")
    val r = Superstep.loop("dagdepth", maxIterations, ckpt, ckptEvery, resume)(
      start = resumed => Superstep.cutActive((resumed match {
        case Some(k) =>
          // conservative resume frontier (CC pattern): re-push every
          // depth once — max-relax is idempotent, the fixpoint is the
          // same — unless the checkpoint was saved at the fixpoint
          ckpt.get.load(graph.spark, k)
            .withColumn("active", lit(ckpt.get.activeCount(k) > 0))
        case None => graph.degrees.select(col("id"), lit(0L).as("d"), lit(true).as("active"))
      }).select(col("id"), col("d"), col("active"))
        .repartition(graph.numPartitions, col("id"))),
      step = c => Superstep.cutActive(Superstep.withMessages(graph, c.state, Seq("d"),
          signal = col("d") + lit(1L), combine = max)
        .select(col("id"), greatest(col("d"), col("msg")).as("d"),
          coalesce(col("msg") > col("d"), lit(false)).as("active"))),
      saved = _.select(col("id"), col("d")))
    Result(r.state.select(col("id"), col("d")), r.iterations)
  }

  /**
   * Tree-contracted critical path — the SAME fixpoint as [[run]]
   * (q_critpath_fast shares its oracle) in O(log depth) +
   * O(contracted diameter) supersteps instead of O(depth):
   *
   * A vertex with in-degree EXACTLY 1 has the closed form
   * depth(v) = depth(pred(v)) + 1, so the unique-pred edges form an
   * in-forest. Pointer jumping ([[ListRank]]) resolves every vertex's
   * (forest root, offset) in ⌈log₂ L⌉ rounds; only the roots
   * (in-degree 0 or ≥ 2) need max-plus relaxation, over the contracted
   * edge set {(root(u), v, off(u)+1) : (u,v) ∈ E, in_deg(v) ≠ 1}.
   *
   * On transcript graphs this contracts every conversation chain to
   * its head and leaves a 1-hop DAG into the tool sinks: a 10^6-turn
   * conversation costs ~20 supersteps instead of 10^6. The relaxation
   * is [[run]]'s resident `(id, d, active)` state over the roots only,
   * on [[Superstep.loop]], gathering over the contracted edge table
   * (weight = off(u)+1): 2 Spark jobs per superstep (the message
   * shuffle's map stage and the cut), pinned by PageRankJobsSpec. At
   * 10^12 turns the contracted graph is |convs| + |tools| rows, still
   * fully distributed.
   */
  def runContracted(graph: LinkGraph, maxIterations: Int = 10000): Result = {
    require(!graph.symmetric, "longest path is defined on the directed DAG")
    val parts = graph.numPartitions

    // in-forest: the unique pred of every in-degree-1 vertex
    val deg1 = graph.degrees.where(col("in_degree") === 1)
      .select(col("id").as("dst"))
    val preds = graph.edgesBySrc
      .join(deg1, "dst")
      .select(col("dst").as("id"), col("src").as("nxt"))
    val succ = graph.vertices.select(col("id"))
      .join(preds, Seq("id"), "left")
    val lr = ListRank.run(succ, parts)
    val info = lr.ranks // (id, rank = offset from root, root)

    // contracted edges, clustered by supervertex src
    val roots = graph.degrees.where(col("in_degree") =!= 1)
      .select(col("id"))
    val cEdges = graph.edgesBySrc
      .join(roots.select(col("id").as("dst")), "dst")
      .join(info.select(col("id").as("src"), col("rank").as("off"),
        col("root").as("csrc")), "src")
      .select(col("csrc").as("src"), col("dst"), (col("off") + lit(1L)).as("weight"))
      .repartition(parts, col("src"))
      .graftCut
    val contracted = graph.copy(edgesBySrc = cEdges)

    // weighted max-plus relaxation on the roots only
    val r = Superstep.loop("dagdepth-c", maxIterations)(
      start = _ => Superstep.cutActive(
        roots.select(col("id"), lit(0L).as("d"), lit(true).as("active"))
          .repartition(parts, col("id"))),
      step = c => Superstep.cutActive(Superstep.withMessages(contracted, c.state, Seq("d"),
          signal = col("d") + col("weight"), combine = max)
        .select(col("id"), greatest(col("d"), col("msg")).as("d"),
          coalesce(col("msg") > col("d"), lit(false)).as("active"))))

    // expand: depth(v) = depth(root(v)) + offset(v)
    val fin = info
      .join(r.state.select(col("id").as("root"), col("d").as("rd")), "root")
      .select(col("id"), (col("rd") + col("rank")).as("d"))
      .repartition(parts, col("id"))
      .graftCut
    Seq(info, cEdges, r.state).foreach(_.graftFree())
    Result(fin, lr.rounds + r.iterations)
  }
}
