package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{LinkGraph, Superstep}
import graft.syntax._

/**
 * Exact distributed bridge finding — the cut-EDGES of every
 * component (edges on no cycle; removing one disconnects its
 * component). The reliability census of a link graph: a bridge is a
 * single point of failure, and the bridge count per component drives
 * connectivity-hardening decisions the same way articulation analysis
 * does on networks.
 *
 * Sequential Tarjan lowlink does not distribute; this runs the
 * coverage formulation instead, EXACTLY (no sampling, no sketch):
 *
 *  1. BFS forest from each component's vertices (min-id parents —
 *     any BFS tree works: the bridge set is a graph property,
 *     independent of the spanning tree used to find it).
 *  2. Ancestor-or-self closure of the parent forest by pointer
 *     doubling — ⌈log₂ depth⌉ rounds building (v, ancestor) rows,
 *     O(Σ depth(v)) total, each round one co-keyed join.
 *  3. A tree edge (parent(c), c) lies on the tree path u–v iff
 *     c ∈ Anc(u) ⊕ c ∈ Anc(v) (symmetric difference strips the
 *     common lca-to-root tail). Every NON-tree edge (u,v) covers
 *     exactly the tree edges on its fundamental-cycle path, so
 *     bridge ⇔ tree edge covered by NO non-tree edge ⇔
 *     |S(c)| + |T(c)| − 2·|S∩T(c)| = 0 summed over non-tree edges —
 *     three linear joins of the closure against the non-tree edge
 *     endpoints. Non-tree edges are never bridges.
 *
 * Scale shape: O(max-component-diameter) BFS supersteps +
 * O(log depth) doubling rounds; the closure is O(n·depth) rows —
 * bounded here by conversation length; for unbounded-depth graphs
 * the Euler-tour/list-ranking form ([[ListRank]]) replaces the
 * closure with prefix sums. No driver-side state beyond counters.
 *
 * @see reference toolkits/bfs.cpp:22-109 for the frontier loop this
 *      forest pass mirrors.
 */
object Bridges {

  final case class Result(bridges: DataFrame, bfsRounds: Int, doublingRounds: Int)

  /** @return bridges: (u_key, v_key) with u_key < v_key.
   *  @param ccLabels optional precomputed (id, lbl) CC labels —
   *                  defaults to a fresh CCStar run */
  def run(graph: LinkGraph, ccLabels: Option[DataFrame] = None): Result = {
    require(graph.symmetric, "bridge finding expects the symmetrized graph")
    val np = graph.numPartitions
    val spark = graph.spark

    // ---- 1. BFS forest from per-component min-key vertices --------
    // (seed choice is arbitrary for correctness; min-key keeps the
    // whole run replayable in key space)
    val labels = ccLabels.getOrElse(CCStar.run(graph).labels)
    var visited = labels.join(graph.vertices, "id")
      .groupBy(col("lbl")).agg(min_by(col("id"), col("key")).as("id"))
      .select(col("id"), col("id").as("parent"), lit(0).as("level"))
      .repartition(np, col("id")).graftCut
    var frontier = visited
    var frontierCount = visited.count()
    var level = 0
    var base = visited
    var pendingFree = List[DataFrame]()
    while (frontierCount > 0) {
      val msgs = Superstep.gather(
        graph, frontier.select(col("id")), signal = col("src"), combine = min)
      val (claimed, n) = msgs
        .join(visited, Seq("id"), "left_anti")
        .select(col("id"), col("msg").as("parent"), lit(level + 1).as("level"))
        .graftCutCount
      frontierCount = n
      level += 1
      if (frontierCount > 0) {
        pendingFree = frontier :: pendingFree
        visited = visited.unionByName(claimed)
        frontier = claimed
        if (level % 8 == 0) {
          visited = visited.graftCut
          (base :: pendingFree).filter(_ ne frontier).foreach(_.graftFree())
          pendingFree = Nil
          base = visited
        }
      }
    }
    val tree = visited.graftCut // (id, parent, level); roots have parent=id
    (base :: frontier :: pendingFree).filter(_ ne tree).distinct.foreach(_.graftFree())

    // ---- 2. ancestor-or-self closure by pointer doubling ----------
    // anc: (v, a); jump: (v, t) = current 2^k-th ancestor (roots stop)
    val parents = tree.where(col("parent") =!= col("id"))
      .select(col("id").as("v"), col("parent").as("p"))
      .repartition(np, col("v")).graftCut
    var anc = tree.select(col("id").as("v"), col("id").as("a"))
      .unionByName(parents.select(col("v"), col("p").as("a")))
      .repartition(np, col("v")).graftCut
    var jump = parents.select(col("v"), col("p").as("t")).graftCut
    var rounds = 0
    var jumpCount = jump.count()
    val maxDepth = level.toLong.max(1L)
    while (jumpCount > 0 && (1L << rounds) < maxDepth) {
      // new ancestors: for each v with a 2^k jump target t, splice in
      // t's ancestors within the NEXT 2^k (t's own anc window is
      // exactly distance < 2^k from t after k rounds... maintained by
      // pairing anc with the jump): A_{k+1}(v) = A_k(v) ∪ A_k(t)
      val spliced = jump.join(
        anc.select(col("v").as("t"), col("a")), "t")
        .select(col("v"), col("a"))
      val newAnc = anc.unionByName(spliced).distinct()
        .repartition(np, col("v")).graftCut
      val newJump = jump.join(
        jump.select(col("v").as("t"), col("t").as("tt")), "t")
        .select(col("v"), col("tt").as("t"))
        .repartition(np, col("v")).graftCut
      anc.graftFree(); jump.graftFree()
      anc = newAnc
      jump = newJump
      jumpCount = jump.count()
      rounds += 1
    }
    jump.graftFree()

    // ---- 3. coverage by symmetric difference of endpoint closures --
    val vk = graph.vertices
    val ed = graph.edgesBySrc.where(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val treePairs = parents.select(
      least(col("v"), col("p")).as("u"), greatest(col("v"), col("p")).as("v"))
    val nt = ed.join(treePairs, Seq("u", "v"), "left_anti")
      .repartition(np, col("u")).graftCut

    val su = nt.join(anc.select(col("v").as("u"), col("a").as("c")), "u")
      .select(col("u"), col("v"), col("c"))
    val tv = nt.join(anc.select(col("a").as("c"), col("v")), "v")
      .select(col("u"), col("v"), col("c"))
    val cntU = su.groupBy(col("c")).agg(count(lit(1)).as("nu"))
    val cntV = tv.groupBy(col("c")).agg(count(lit(1)).as("nv"))
    val cntBoth = su.join(tv, Seq("u", "v", "c"), "left_semi")
      .groupBy(col("c")).agg(count(lit(1)).as("nb"))
    val cov = cntU.join(cntV, Seq("c"), "full")
      .join(cntBoth, Seq("c"), "full")
      .select(col("c"),
        (coalesce(col("nu"), lit(0L)) + coalesce(col("nv"), lit(0L))
          - lit(2L) * coalesce(col("nb"), lit(0L))).as("cov"))

    val bridges = parents
      .join(cov.select(col("c").as("v"), col("cov")), Seq("v"), "left")
      .where(coalesce(col("cov"), lit(0L)) === 0)
      .join(vk.select(col("id").as("v"), col("key").as("ck")), "v")
      .join(vk.select(col("id").as("p"), col("key").as("pk")), "p")
      .select(least(col("ck"), col("pk")).as("u_key"),
        greatest(col("ck"), col("pk")).as("v_key"))
    Result(bridges, level, rounds)
  }

  /**
   * 2-edge-connected components (bridge blocks): delete every bridge,
   * take connected components of what remains — each block survives
   * any single link failure; vertices whose every edge is a bridge
   * form singleton blocks. THE summary a reliability planner reads
   * off the bridge set, and one more CCStar pass on top of [[run]].
   *
   * @return (key, block) for every vertex — block named by its
   *         lexicographically smallest member key.
   */
  def blocks(graph: LinkGraph, ccLabels: Option[DataFrame] = None): DataFrame = {
    val np = graph.numPartitions
    val vk = graph.vertices
    val br = run(graph, ccLabels).bridges
      .join(vk.select(col("id").as("bu"), col("key").as("u_key")), "u_key")
      .join(vk.select(col("id").as("bv"), col("key").as("v_key")), "v_key")
      .select(least(col("bu"), col("bv")).as("u"), greatest(col("bu"), col("bv")).as("v"))
    val nonBridge = graph.edgesBySrc
      .where(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
      .join(br, Seq("u", "v"), "left_anti")
      .select(col("u").as("src"), col("v").as("dst"), lit(1.0).as("weight"))
    val bg = LinkGraph.fromIdEdges(nonBridge, graph.numVertices, symmetric = true, np)
    val lbl = CCStar.run(bg).labels
    val keyed = lbl.join(vk, "id").select(col("key"), col("lbl"))
    val named = keyed.groupBy(col("lbl")).agg(min(col("key")).as("block"))
    val out = keyed.join(named, "lbl").select(col("key"), col("block"))
    bg.unpersist()
    out
  }
}
