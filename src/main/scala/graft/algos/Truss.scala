package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * k-truss decomposition (fixed k): iteratively delete every edge that
 * closes fewer than k−2 triangles in the CURRENT subgraph, until the
 * edge set is stable. The surviving subgraph is the k-truss — the
 * standard cohesive-subgraph operator one notch stronger than k-core
 * (every k-truss edge sits in a (k−1)-core). Beyond-reference
 * component next to [[KCore]] (the reference's surface stops at the
 * toolkits, /root/reference/toolkits/).
 *
 * Shape per round: the degree-ordered oriented wedge join of
 * [[TriangleCount]] ([[TriangleCount.orient]] on the ORIGINAL graph —
 * a total order stays valid on every peeled subgraph), each closed
 * wedge exploded onto its three edges, one counting aggregate, one
 * co-keyed filter join. Work per round is bounded by Σ d_min(e) of
 * the shrinking edge set — the same bound as one triangle count —
 * and the peel converges in a handful of rounds on power-law graphs
 * (each round removes whole low-support fringes at once). The state is
 * the surviving edge set `(a, b, support)` only, no |V| table, on
 * [[Superstep.loop]]; a round whose survivor count equals the
 * previous one is the fixpoint.
 *
 * At the fixpoint, the support values computed in the final round ARE
 * the surviving edges' supports in the final subgraph (nothing was
 * removed), so the result needs no recompute pass.
 */
object Truss {

  final case class Result(edges: DataFrame, rounds: Int)

  /** (a, b, support) for every oriented edge of `cur` that closes at
   * least one triangle in `cur`: the degree-ordered wedge join, each
   * closed wedge exploded onto its three edges, one counting
   * aggregate. */
  private def supports(cur: DataFrame): DataFrame = {
    val wedges = cur.as("e1").join(
      cur.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
    val tris = wedges.join(
      cur.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    tris.select(explode(array(
      struct(col("a").as("x"), col("b").as("y")),
      struct(col("b").as("x"), col("c").as("y")),
      struct(col("a").as("x"), col("c").as("y")))).as("e"))
      .select(col("e.x").as("a"), col("e.y").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** @return (edges = (a, b, support) oriented rows of the k-truss,
   *          rounds to fixpoint). The surviving edge set IS the state,
   *          so checkpoints snapshot it per round ((id = a, b) rows)
   *          and a resumed peel replays exactly ([[Result.rounds]]
   *          counts the rounds before the resume too). */
  def run(graph: LinkGraph, k: Int = 3, maxRounds: Int = 12,
      ckpt: Option[Checkpoint] = None, ckptEvery: Int = 1,
      resume: Boolean = false): Result = {
    require(k >= 3, "k-truss needs k >= 3")
    val need = (k - 2).toLong
    var resumedAt: Option[Superstep.Cut] = None
    val r = Superstep.loop("truss", maxRounds, ckpt, ckptEvery, resume)(
      start = { resumed =>
        val edges = resumed match {
          case Some(i) => ckpt.get.load(graph.spark, i).select(col("id").as("a"), col("b"))
          case None => TriangleCount.orient(graph)
        }
        val (s, n) = edges.select(col("a"), col("b"), lit(null).cast("long").as("support"))
          .repartition(graph.numPartitions, col("a"))
          .graftCutCount
        // a snapshot saved at the fixpoint records active_count 0
        val c = Superstep.Cut(s, n, more = resumed.forall(ckpt.get.activeCount(_) > 0))
        if (resumed.isDefined) resumedAt = Some(c)
        c
      },
      step = { c =>
        val cur = c.state.select(col("a"), col("b"))
        // inner join: an edge in zero triangles has no support row and
        // is dropped — correct, since k >= 3 means need >= 1
        val (kept, m) = cur
          .join(supports(cur).where(col("support") >= need), Seq("a", "b"))
          .graftCutCount
        val fixpoint = m == c.count
        Superstep.Cut(kept, if (fixpoint) 0L else m, more = !fixpoint)
      },
      saved = _.select(col("a").as("id"), col("b")))
    // A resume from the fixpoint snapshot or from the one of round
    // maxRounds runs no round, and the snapshot holds no supports:
    // count them on the saved edge set (the supports a fixpoint round
    // computes).
    val edges = resumedAt match {
      case Some(c) if r.supersteps == 0 =>
        val cur = c.state.select(col("a"), col("b"))
        val withSup = cur.join(supports(cur), Seq("a", "b"), "left")
          .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
          .graftCut
        c.state.graftFree()
        withSup
      case _ => r.state
    }
    Result(edges, r.iterations)
  }

  /**
   * FULL truss decomposition: trussness(e) = max k with e in the
   * k-truss (every surviving edge is trivially in the 2-truss, so the
   * floor is 2 — the edge-level twin of [[KCore.coreness]], the
   * hierarchy miner's tool: peeling communities by cohesion level
   * without picking k up front).
   *
   * Increasing-k peels, each starting from the PREVIOUS k's fixpoint
   * edge set — k-trusses nest, so the (k−1)-truss is a valid start
   * and the k=3 pass dominates the cost; later passes peel strictly
   * shrinking edge sets. Peel count = truss degeneracy + 1 (tiny on
   * power-law graphs, like the core degeneracy). Same wedge-join
   * support kernel as [[run]].
   *
   * @return (a, b, trussness) over the degree-oriented edge rows
   */
  def trussness(graph: LinkGraph, maxK: Int = 64, maxRoundsPerK: Int = 11): DataFrame = {
    require(graph.symmetric, "truss decomposition is defined on the undirected graph")
    var (cur, n) = TriangleCount.orient(graph)
      .repartition(graph.numPartitions, col("a"))
      .graftCutCount
    var out = cur.select(col("a"), col("b"), lit(2L).as("trussness")).graftCut
    var k = 3
    while (n > 0 && k <= maxK) {
      val need = (k - 2).toLong
      var converged = false
      var rounds = 0
      while (!converged && n > 0 && rounds < maxRoundsPerK) {
        val (kept, m) = cur
          .join(supports(cur).where(col("support") >= need).select(col("a"), col("b")),
            Seq("a", "b"), "left_semi")
          .graftCutCount
        rounds += 1
        // kept ⊆ cur, so equal counts ⇒ equal sets (fixpoint)
        if (m == n) { converged = true; kept.graftFree() }
        else { cur.graftFree(); cur = kept; n = m }
      }
      // The DuckDB replay applies exactly maxRoundsPerK (= 11) peel
      // passes per k; a peel that exits on the round cap without a
      // fixpoint can over-label survivors (both engines agree on the
      // capped set, but the TRUE trussness may be lower) — surface it.
      if (!converged && n > 0)
        Console.err.println(
          s"[graft] Truss.trussness: k=$k peel hit the $maxRoundsPerK-round cap " +
            s"without a fixpoint ($n edges remain) — labels at k>=$k are cap-bounded")
      if (n > 0) {
        val prev = out
        out = out
          .join(cur.select(col("a"), col("b"), lit(true).as("inc")), Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            when(col("inc"), lit(k.toLong)).otherwise(col("trussness")).as("trussness"))
          .graftCut
        prev.graftFree()
      }
      k += 1
    }
    if (n > 0 && k > maxK)
      Console.err.println(
        s"[graft] Truss.trussness: $n edges survive the k=$maxK peel — " +
          s"their true trussness exceeds maxK and is reported as $maxK")
    cur.graftFree()
    out
  }

  /** Driver-query export of [[trussness]]: (u_key, v_key, trussness). */
  def trussnessKeyed(graph: LinkGraph): DataFrame = {
    val vk = (n: String) =>
      graph.vertices.select(col("id").as(n), col("key").as(n + "k"))
    trussness(graph).join(vk("a"), "a").join(vk("b"), "b")
      .select(
        least(col("ak"), col("bk")).as("u_key"),
        greatest(col("ak"), col("bk")).as("v_key"),
        col("trussness"))
  }

  /** Driver-query export: key-oriented (u_key, v_key, support). */
  def keyed(graph: LinkGraph, k: Int = 3): DataFrame = {
    val r = run(graph, k)
    val vk = (n: String) =>
      graph.vertices.select(col("id").as(n), col("key").as(n + "k"))
    r.edges.join(vk("a"), "a").join(vk("b"), "b")
      .select(
        least(col("ak"), col("bk")).as("u_key"),
        greatest(col("ak"), col("bk")).as("v_key"),
        col("support"))
  }
}
