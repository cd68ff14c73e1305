package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Multi-source BFS: level-synchronous distances from K roots in ONE
 * frontier loop — the batched form of the reference's per-root BFS
 * (toolkits/bfs.cpp:22-109). State is the set of
 * reached (id, root, dist, active) pairs: all K searches share every
 * superstep's edge join, so K landmarks cost O(diameter) jobs total
 * instead of K·O(diameter) — the standard building block for
 * landmark/closeness/diameter estimation over a 10^12-edge graph,
 * where per-root loops are unaffordable driver-job-wise. A complete
 * state would be K·|V| rows, so unreached pairs have no row.
 *
 * Plan per superstep: the active pairs join the src-clustered edge
 * table (broadcast when the frontier's edge mass is under the |E|/20
 * switch, co-partitioned shuffle join otherwise), dedup to one message
 * per (dst, root), and ONE anti-join against the state keeps the
 * unreached pairs (bfs.cpp:77's `dense_selective` skip), claimed at
 * dist = level+1 and appended to the state with every old pair made
 * inactive. Both halves stay clustered by (id, root), so the lineage
 * cut keeps that partitioning and its action returns the frontier
 * count. Edge mass is over PAIRS (each pair signals along all of its
 * id's out-edges); pairs carry no out-degree, so it comes from
 * [[Superstep.massOrBound]]. 3 Spark jobs per sparse level (frontier
 * broadcast, message shuffle's map stage, cut). Checkpoints are
 * `(id, root, dist)`; a resume re-activates the last level.
 */
object MultiSourceBfs {

  final case class Result(dists: DataFrame, iterations: Int, reached: Long)

  /** @return dists: (id, root, dist) for REACHED (id, root) pairs only
   *          (roots appear at dist 0). */
  def run(
      graph: LinkGraph,
      roots: Seq[Long],
      maxIterations: Int = 100000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 8,
      resume: Boolean = false): Result = {
    require(roots.nonEmpty && roots.distinct.size == roots.size, "roots must be distinct")
    val spark = graph.spark
    import spark.implicits._

    def cut(state: DataFrame): Superstep.Cut = {
      val (s, n, _) = state.graftCutActive("active")
      Superstep.Cut(s, n, more = n > 0)
    }
    var level = 0
    val r = Superstep.loop("msbfs", maxIterations, ckpt, ckptEvery, resume)(
      start = { resumed =>
        level = resumed.getOrElse(0)
        cut((resumed match {
          case Some(k) => ckpt.get.load(spark, k).withColumn("active", col("dist") === k)
          case None => roots.map(r => (r, r, 0, true)).toDF("id", "root", "dist", "active")
        }).repartition(graph.numPartitions, col("id"), col("root")))
      },
      step = { c =>
        level += 1
        val frontier = c.state.where(col("active"))
        val mass = Superstep.massOrBound(graph, frontier, c.count)
        val sparse = mass < graph.numEdges / Superstep.denseThresholdFraction &&
          c.count < Superstep.broadcastRowCap
        val src = frontier.select(col("id").as("src"), col("root"))
        val joined =
          if (sparse) graph.edgesBySrc.join(broadcast(src), "src")
          else graph.edgesBySrc.join(src.repartition(graph.numPartitions, col("src")), "src")
        // distinct = the message combine (all messages this level carry
        // the same dist, so combining is dedup); it also clusters the
        // claims by (id, root) for the anti-join
        val claimed = joined
          .select(col("dst").as("id"), col("root")).distinct()
          .join(c.state, Seq("id", "root"), "left_anti")
          .select(col("id"), col("root"), lit(level).as("dist"), lit(true).as("active"))
        cut(c.state.select(col("id"), col("root"), col("dist"), lit(false).as("active"))
          .union(claimed))
      },
      saved = _.select(col("id"), col("root"), col("dist")))
    val (dists, reached) = r.state.select(col("id"), col("root"), col("dist")).graftCutCount
    r.state.graftFree()
    Result(dists, r.iterations, reached)
  }

  /** Harmonic closeness centrality of each root over its reachable
   * set: `n_reached` = vertices at dist ≥ 1, `harmonic_e4` =
   * Σ floor(10⁴ / dist) — the integer-exact export of Σ 1/d (each
   * term is an exact integer quotient, so the sum is order-independent
   * and engine-portable, unlike a float Σ 1/d). */
  def harmonicCloseness(dists: DataFrame): DataFrame =
    dists.where(col("dist") > 0)
      .groupBy(col("root"))
      .agg(
        count(lit(1)).as("n_reached"),
        sum(floor(lit(10000) / col("dist")).cast("long")).as("harmonic_e4"))

  /** Landmark DISTANCE ORACLE estimates (the classic landmark/seed
   * technique for approximate point-to-point distances at scale):
   * est(a, b) = min over landmarks l of d(a,l) + d(l,b) — an upper
   * bound on the true distance, exact whenever some shortest path
   * passes a landmark. One self-join of the MSBFS state on the
   * landmark column restricted to the query pairs; pairs where either
   * endpoint is unreachable from every landmark drop out.
   *
   * @param pairs (aId, bId) query pairs
   * @return (a_key, b_key, est) with a_key < b_key lexicographically */
  def distOracle(dists: DataFrame, vertices: DataFrame,
      pairs: Seq[(Long, Long)]): DataFrame = {
    val spark = dists.sparkSession
    import spark.implicits._
    val pdf = pairs.toDF("a", "b")
    pdf
      .join(dists.select(col("id").as("a"), col("root"),
        col("dist").as("da")), "a")
      .join(dists.select(col("id").as("b"), col("root"),
        col("dist").as("db")), Seq("b", "root"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("da") + col("db")).cast("long").as("est"))
      .join(vertices.select(col("id").as("a"), col("key").as("ka")), "a")
      .join(vertices.select(col("id").as("b"), col("key").as("kb")), "b")
      .select(least(col("ka"), col("kb")).as("a_key"),
        greatest(col("ka"), col("kb")).as("b_key"), col("est"))
  }

  /** Landmark distance-distribution census — the small-world curve:
   * how many (root, vertex) pairs sit at each hop distance, one tiny
   * aggregate over the one-loop MSBFS state (dist 0 rows are the
   * roots themselves).
   * @return (dist, n_pairs) */
  def distCensus(dists: DataFrame): DataFrame =
    dists.groupBy(col("dist").cast("long").as("dist"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Eccentricity of each landmark root — the max BFS level it
   * reaches (exact within the root's component; over sampled
   * landmarks, max(ecc) lower-bounds the diameter and min(ecc)
   * upper-bounds the radius, the standard landmark bounds). One
   * aggregate over the same one-loop MSBFS state. */
  def eccentricity(dists: DataFrame): DataFrame =
    dists.groupBy(col("root"))
      .agg(max(col("dist")).cast("long").as("ecc"),
        count(lit(1)).as("n_reached"))

  /** Landmark-based closeness ESTIMATE for every vertex — the dual of
   * [[harmonicCloseness]]: instead of each root's centrality over its
   * reachable set, each VERTEX gets Σ floor(10⁴/d(v, landmark)) over
   * the landmarks that reach it. With K ≪ |V| sampled landmarks this
   * is the standard estimator of per-vertex harmonic centrality at
   * scale (exact closeness needs all-pairs distances); integer-exact
   * per-term flooring keeps the sum order-independent. */
  def landmarkCloseness(dists: DataFrame): DataFrame =
    dists.where(col("dist") > 0)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_landmarks"),
        sum(floor(lit(10000) / col("dist")).cast("long")).as("harmonic_e4"))

  /** Graph-Voronoi partition over the K landmarks: every reached
   * vertex is assigned to its nearest seed, ties broken by seed KEY
   * (not id — the dictionary's id order is an engine artifact the
   * oracle cannot see). This is the landmark-sharding operator: the
   * assignment is a locality-aware partition of the graph (each cell
   * is connected and radius-bounded), the standard seed-based
   * re-partitioning step at 10^12-edge scale — and it falls out of
   * the SAME one-loop MSBFS state for free: one `min(struct)` agg
   * over the (id, root, dist) triples, no extra supersteps.
   *
   * @param rootKeys (root, root_key) — the seeds' dictionary rows
   * @return (id, seed_key, dist) for every reached vertex
   */
  def voronoi(dists: DataFrame, rootKeys: DataFrame): DataFrame =
    dists.join(rootKeys, "root")
      .groupBy(col("id"))
      .agg(min(struct(col("dist"), col("root_key"))).as("m"))
      .select(col("id"), col("m.root_key").as("seed_key"),
        col("m.dist").cast("long").as("dist"))
}
