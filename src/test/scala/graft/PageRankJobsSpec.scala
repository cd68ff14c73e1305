package graft

import org.apache.spark.sql.functions._

import graft.algos.{Betweenness, BidirBfs, Bfs, BowTie, Cascade, ConnectedComponents, DagDepth, DeltaStepping,
  EigenCentrality, Hits, HittingTime, Katz, KCore, LabelPropagation, MaxCut, MultiSourceBfs, PageRank,
  PageRankInc, PprPush, Salsa, Scc, Sssp, TemporalReach}
import graft.syntax._

/** Spark jobs per superstep of every loop on [[Superstep.loop]], under
 * the suite's default (production) broadcast thresholds. The marginal
 * count between k and k+4 supersteps cancels the fixed per-run jobs;
 * an added job per superstep (a re-broadcast edge or degree table, a
 * second state join, a separate edge-mass aggregation, a frontier
 * broadcast) fails here. */
class PageRankJobsSpec extends SparkSpec {

  /** Jobs per superstep with AQE on, whatever the frontier's size: the
   * message shuffle's map stage and the lineage cut (which also carries
   * the delta sum or the active count). */
  val jobsPerSuperstep = 2

  /** Gemini's push/pull switch: a frontier whose out-edge mass is under
   * |E|/20 runs sparse (core/graph.hpp:1508). The engine has one gather
   * path; the fixtures below use it to show that a frontier on either
   * side of the switch costs the same jobs. */
  val geminiSparseFraction = 20L

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

  test("ConnectedComponents: jobs per dense superstep pinned") {
    // 40 chains of 15 vertices with hashed ids: each of supersteps 1..6
    // activates at least |E|/20 vertices, so its out-edge mass is dense
    val chains = graphOf(
      for (c <- 0 until 40; p <- 0 until 14) yield (c * 15 + p, c * 15 + p + 1),
      symmetric = true)
    val history = ConnectedComponents.run(chains, maxIterations = 6).activeHistory
    assert(history.forall(_ >= chains.numEdges / geminiSparseFraction),
      s"every superstep must be dense: $history")
    assert(marginal(k => ConnectedComponents.run(chains, maxIterations = k).iterations) == jobsPerSuperstep)
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
    assert(2 < path.numEdges / geminiSparseFraction)
    assert(run(6).activeHistory == Seq.fill(6)(1L))
    assert(marginal(run(_).iterations) == jobsPerSuperstep)
  }

  test("LabelPropagation: jobs per round pinned") {
    // a 60-vertex path: the smallest label is still travelling at round 6
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    assert(LabelPropagation.run(path, maxIterations = 6).changedHistory.last > 0)
    assert(marginal(k => LabelPropagation.run(path, maxIterations = k).iterations) == jobsPerSuperstep)
  }

  test("Bfs: jobs per sparse level pinned") {
    // a 60-vertex path from one end: one vertex (out-edge mass ≤ 2,
    // under |E|/20) is claimed per level
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    val end = indexOf(path).collectFirst { case (id, 0) => id }.get
    assert(Bfs.run(path, end, maxIterations = 6).found == 7)
    assert(marginal(k => Bfs.run(path, end, maxIterations = k).iterations) == jobsPerSuperstep)
  }

  /** 40 chains of 15 vertices hanging off one root: from superstep 2
   * on, the frontier is one vertex per chain, 40 vertices of
   * out-degree 2 (mass 80), over |E|/20 = 60. */
  lazy val star: LinkGraph = graphOf(
    for (c <- 0 until 40; p <- 0 until 15)
      yield (if (p == 0) 0 else 1 + c * 15 + p - 1, 1 + c * 15 + p),
    symmetric = true)
  lazy val starRoot: Long = indexOf(star).collectFirst { case (id, 0) => id }.get

  test("Sssp: jobs per dense superstep pinned") {
    assert(80 >= star.numEdges / geminiSparseFraction)
    assert(marginal(k => Sssp.run(star, starRoot, maxIterations = k).iterations) == jobsPerSuperstep)
  }

  /** MSBFS jobs per dense level: the frontier's exchange to the edge
   * table's src partitioning (the pairs are clustered by (id, root)),
   * the message dedup's map stage and the cut. With a frontier-mass
   * aggregation and a mode switch in front of the gather, the same
   * level took 7. */
  val msbfsDenseJobs = 3

  test("MultiSourceBfs: jobs per dense level pinned") {
    assert(80 >= star.numEdges / geminiSparseFraction)
    assert(marginal(k => MultiSourceBfs.run(star, Seq(starRoot), maxIterations = k).iterations) ==
      msbfsDenseJobs)
  }

  /** HITS jobs per iteration: the two message shuffles' map stages
   * (auth from hub, then hub from auth) and two cuts, the auth rows'
   * and the state's. */
  val hitsJobs = 4

  test("Hits: jobs per iteration pinned") {
    assert(marginal(k => Hits.run(g, iterations = k).iterations) == hitsJobs)
  }

  test("KCore: jobs per peel round pinned") {
    // a 60-vertex path at k = 2: every round peels both ends
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    assert(KCore.run(path, k = 2, maxRounds = 6).aliveHistory == (1 to 6).map(r => 60L - 2 * r))
    assert(marginal(k => KCore.run(path, k = 2, maxRounds = k).rounds) == jobsPerSuperstep)
  }

  /** Paths of 12 and 16 vertices, each with the id of its end vertex 0. */
  private lazy val paths: Seq[(LinkGraph, Long)] = Seq(12, 16).map { n =>
    val p = graphOf((0 until n - 1).map(i => (i, i + 1)), symmetric = true)
    (p, indexOf(p).collectFirst { case (id, 0) => id }.get)
  }

  /** Jobs per unit of `run`'s length, from vertex 0 of the 12- and the
   * 16-vertex path: the difference cancels the fixed per-run jobs.
   * `run` returns its length (levels or buckets), `units` apart. */
  private def perPathUnit(units: Int)(run: (LinkGraph, Long) => Int): Int =
    perUnit(paths, units)(run)

  /** [[perPathUnit]] over any two fixtures `(graph, root)`. */
  private def perUnit(fixtures: Seq[(LinkGraph, Long)], units: Int)(run: (LinkGraph, Long) => Int): Int = {
    val Seq((a, la), (b, lb)) = fixtures.map { case (p, r) =>
      run(p, r) // warm-up: the graph's lazy statistics are computed once
      var len = 0
      (jobsOf { len = run(p, r) }, len)
    }
    assert(lb - la == units, s"lengths $la and $lb")
    assert((b - a) % units == 0, s"non-integral jobs per unit: $a at $la, $b at $lb")
    (b - a) / units
  }

  /** Brandes jobs per level, forward and backward together: each
   * pass's message shuffle map stage and cut. */
  val bcJobs = 4

  test("Betweenness: jobs per level pinned") {
    assert(perPathUnit(4)((p, r) => Betweenness.run(p, r).levels) == bcJobs)
  }

  /** Batched Brandes jobs per level: in each pass, the (id, root)
   * rows' exchange to the edge table's src partitioning, the message
   * map stage and the cut. */
  val bcBatchJobs = 6

  test("Betweenness.runBatch: jobs per level pinned") {
    assert(perPathUnit(4) { (p, r) =>
      val second = indexOf(p).collectFirst { case (id, 1) => id }.get
      Betweenness.runBatch(p, Seq(r, second)).levels
    } == bcBatchJobs)
  }

  /** DeltaStepping jobs per bucket on a unit-weight path at delta = 2,
   * where each bucket runs two light relaxations and no heavy one:
   * three per relaxation (two shuffle map stages and the cut) and the
   * pending count. */
  val deltaJobs = 7

  test("DeltaStepping: jobs per bucket pinned") {
    assert(perPathUnit(2)((p, r) => DeltaStepping.run(p, r, delta = 2.0).buckets) == deltaJobs)
  }

  // ---- the loops without a checkpoint: jobs per round ----

  /** The dense programs' round: the message shuffle's map stage and the
   * cut. */
  val denseJobs = 2

  test("Katz: jobs per superstep pinned") {
    assert(marginal(k => Katz.run(g, iterations = k).iterations) == denseJobs)
  }

  test("EigenCentrality: jobs per round pinned (the max rides the cut)") {
    assert(marginal(k => EigenCentrality.run(star, iterations = k).iterations) == denseJobs)
  }

  /** SALSA jobs per iteration: as [[hitsJobs]], the auth rows cut
   * between the two gathers. */
  val salsaJobs = 4

  test("Salsa: jobs per iteration pinned") {
    assert(marginal(k => Salsa.run(g, iterations = k).iterations) == salsaJobs)
  }

  test("HittingTime: jobs per round pinned") {
    assert(marginal { k => HittingTime.run(star, col("key") === keyOf(1), iters = k); k } == denseJobs)
  }

  /** MaxCut jobs per round with candidates: each gather's map stage, the
   * candidate cut and the state cut. */
  val maxCutJobs = 4

  test("MaxCut: jobs per round pinned") {
    // 40 disjoint triangles: the local search settles within a round or
    // two, so this is the jobs of round 1 (0 rounds against 1), where
    // the monochrome triangles supply candidates
    val tris = graphOf(for (t <- 0 until 40; (a, b) <- Seq((0, 1), (1, 2), (2, 0)))
      yield (3 * t + a, 3 * t + b), symmetric = true)
    assert(perUnit(Seq((tris, 0L), (tris, 1L)), 1) { (p, k) =>
      MaxCut.run(p, rounds = k.toInt).count(); k.toInt } == maxCutJobs)
  }

  test("PprPush: jobs per round pinned") {
    assert(marginal(k => PprPush.run(star, starRoot, rounds = k).rounds) == denseJobs)
  }

  test("PageRankInc: jobs per push round pinned") {
    assert(marginal { k =>
      val r = PageRankInc.run(g, col("weight") === 2.0, r1 = k, r2 = 0)
      assert(r.phase1Active.forall(_ > 0), s"every round must push: ${r.phase1Active}")
      r.phase1Rounds
    } == denseJobs)
  }

  /** 60-vertex directed path, and the id of its first vertex. */
  private lazy val dpath: (LinkGraph, Long) = {
    val p = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = false)
    (p, indexOf(p).collectFirst { case (id, 0) => id }.get)
  }

  /** Cascade jobs per round: the message shuffle's map stage, the
   * message cut and the state cut. */
  val cascadeJobs = 3

  test("Cascade: jobs per round pinned") {
    // in-degree 1 everywhere: θ = 1, one vertex activates per round
    val (p, first) = dpath
    assert(marginal { k => Cascade.run(p, Seq(first), maxRounds = k).count(); k } == cascadeJobs)
  }

  /** BidirBfs jobs per round: the message shuffle's map stage, the cut
   * and the meet check's two (its single-partition exchange and the
   * result). */
  val bidirJobs = 4

  test("BidirBfs: jobs per round pinned") {
    val path = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    val idx = indexOf(path).map(_.swap)
    assert(marginal(k => BidirBfs.dist(path, idx(0), idx(59), maxRounds = k).rounds) == bidirJobs)
  }

  test("BowTie closure: jobs per level pinned") {
    assert(perPathUnit(4) { (p, r) =>
      val reached = BowTie.closure(p, p.vertices.where(col("id") === r).select(col("id")))
      val n = reached.count().toInt
      reached.graftFree()
      n
    } == denseJobs)
  }

  test("TemporalReach: jobs per superstep pinned") {
    import spark.implicits._
    // a time-increasing path: one vertex improves per superstep
    val te = (0 until 59).flatMap { i =>
      Seq((keyOf(i), keyOf(i + 1), i + 1L), (keyOf(i + 1), keyOf(i), i + 1L)) }
      .toDF("src_key", "dst_key", "t")
    val seeds = Seq((keyOf(0), 0L)).toDF("key", "arr")
    assert(marginal(k => TemporalReach.run(te, seeds, numPartitions, maxIterations = k).iterations) ==
      denseJobs)
  }

  test("DagDepth.runContracted: jobs per relaxation superstep pinned") {
    // a 12-level ladder: every vertex past level 0 has in-degree 2, so
    // nothing contracts and the relaxation runs one superstep per level
    val ladder = graphOf(for (l <- 0 until 11; a <- 0 to 1; b <- 0 to 1)
      yield (2 * l + a, 2 * (l + 1) + b), symmetric = false)
    val base = DagDepth.runContracted(ladder, maxIterations = 0).iterations
    assert(marginal(k => DagDepth.runContracted(ladder, maxIterations = k).iterations - base) ==
      denseJobs)
  }

  test("Scc: jobs per coloring and sweep superstep pinned") {
    // directed cycles of 12 and 16: one SCC, one outer round whose
    // forward coloring and backward sweep each take one superstep per
    // vertex
    val cycles = Seq(12, 16).map { n =>
      (graphOf((0 until n).map(i => (i, (i + 1) % n)), symmetric = false), 0L)
    }
    assert(perUnit(cycles, 4) { (c, _) =>
      val r = Scc.run(c)
      assert(r.rounds == 1)
      r.sccs.graftFree()
      c.numVertices.toInt
    } == 2 * denseJobs)
  }
}
