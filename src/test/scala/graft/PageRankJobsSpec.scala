package graft

import org.apache.spark.sql.functions._

import graft.algos.{Bfs, ConnectedComponents, LabelPropagation, PageRank, Sssp}

/** Spark jobs per PageRank, ConnectedComponents, LabelPropagation, Bfs
 * and Sssp superstep, under the suite's default (production) broadcast
 * thresholds. The marginal count between k and k+4 supersteps cancels
 * the fixed per-run jobs;
 * an added job per superstep (a re-broadcast edge or degree table, a
 * second state join, a separate edge-mass aggregation) fails here. */
class PageRankJobsSpec extends SparkSpec {

  /** Jobs per superstep with AQE on: the message shuffle's map stage
   * and the lineage cut (which also carries the delta sum). */
  val jobsPerSuperstep = 2

  lazy val g: LinkGraph = graphOf(
    (0 until 30).map(i => (i, (i + 1) % 30)) ++ Seq((0, 15), (3, 9), (9, 3), (4, 22)) ++
      (31 until 36).map(i => (i, 0)),
    symmetric = false)

  /** @param run runs `k` supersteps and returns the iterations it ran */
  private def marginal(run: Int => Int): Int = {
    run(2) // warm-up: the graph's lazy statistics are computed once
    val k = 2
    val jk = jobsOf(assert(run(k) == k))
    val jk4 = jobsOf(assert(run(k + 4) == k + 4))
    assert((jk4 - jk) % 4 == 0, s"non-integral jobs per superstep: $jk at $k, $jk4 at ${k + 4}")
    (jk4 - jk) / 4
  }

  test("fixed-iteration PageRank: jobs per superstep pinned") {
    assert(marginal(k => PageRank.run(g, iterations = k).iterations) == jobsPerSuperstep)
  }

  test("convergence-mode PageRank: jobs per superstep pinned (delta rides the cut)") {
    // tol < 0 never stops early, so the run takes exactly maxIterations
    assert(marginal(k => PageRank.run(g, maxIterations = k, tol = -1.0).iterations) == jobsPerSuperstep)
  }

  /** CC jobs per dense superstep: the message shuffle's map stage and
   * the cut (which also returns the active count and edge mass). */
  val ccDenseJobs = 2
  /** CC jobs per sparse superstep: the same two plus the frontier
   * broadcast. */
  val ccSparseJobs = 3

  test("ConnectedComponents: jobs per dense superstep pinned") {
    // 40 chains of 15 vertices with hashed ids: each of supersteps 1..6
    // activates at least |E|/20 vertices, so its out-edge mass is dense
    val chains = graphOf(
      for (c <- 0 until 40; p <- 0 until 14) yield (c * 15 + p, c * 15 + p + 1),
      symmetric = true)
    val history = ConnectedComponents.run(chains, maxIterations = 6).activeHistory
    assert(history.forall(_ >= chains.numEdges / Superstep.denseThresholdFraction),
      s"every superstep must be dense: $history")
    assert(marginal(k => ConnectedComponents.run(chains, maxIterations = k).iterations) == ccDenseJobs)
  }

  test("ConnectedComponents: jobs per sparse superstep pinned") {
    // a 60-vertex path warm-started with the smallest label at one end
    // and only that end active: one vertex (out-edge mass ≤ 2, under
    // |E|/20) adopts the label per superstep
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    val end = indexOf(path).collectFirst { case (id, 0) => id }.get
    val labels = path.vertices.select(col("id"),
      when(col("id") === end, lit(-1L)).otherwise(col("id")).as("lbl"))
    def run(k: Int) = ConnectedComponents.run(path, maxIterations = k,
      initLabels = Some(labels), initFrontier = Some(labels.where(col("id") === end)))
    assert(2 < path.numEdges / Superstep.denseThresholdFraction)
    assert(run(6).activeHistory == Seq.fill(6)(1L))
    assert(marginal(run(_).iterations) == ccSparseJobs)
  }

  /** LP jobs per round: the message shuffle's map stage and the cut
   * (which also counts the changed labels). */
  val lpJobs = 2

  test("LabelPropagation: jobs per round pinned") {
    // a 60-vertex path: the smallest label is still travelling at round 6
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    assert(LabelPropagation.run(path, maxIterations = 6).changedHistory.last > 0)
    assert(marginal(k => LabelPropagation.run(path, maxIterations = k).iterations) == lpJobs)
  }

  /** BFS jobs per sparse level: the frontier broadcast, the message
   * shuffle's map stage and the cut (which also returns the frontier
   * count and edge mass). */
  val bfsSparseJobs = 3

  test("Bfs: jobs per sparse level pinned") {
    // a 60-vertex path from one end: one vertex (out-edge mass ≤ 2,
    // under |E|/20) is claimed per level
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    val end = indexOf(path).collectFirst { case (id, 0) => id }.get
    assert(Bfs.run(path, end, maxIterations = 6).found == 7)
    assert(marginal(k => Bfs.run(path, end, maxIterations = k).iterations) == bfsSparseJobs)
  }

  /** SSSP jobs per dense superstep: the message shuffle's map stage and
   * the cut. */
  val ssspDenseJobs = 2

  test("Sssp: jobs per dense superstep pinned") {
    // 40 chains of 15 vertices hanging off one root: from superstep 2
    // on, the frontier is one vertex per chain, 40 vertices of
    // out-degree 2 (mass 80), over |E|/20 = 60
    val star = graphOf(
      for (c <- 0 until 40; p <- 0 until 15)
        yield (if (p == 0) 0 else 1 + c * 15 + p - 1, 1 + c * 15 + p),
      symmetric = true)
    val root = indexOf(star).collectFirst { case (id, 0) => id }.get
    assert(80 >= star.numEdges / Superstep.denseThresholdFraction)
    assert(marginal(k => Sssp.run(star, root, maxIterations = k).iterations) == ssspDenseJobs)
  }
}
