package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Connected components by alternating star contraction — the
 * O(log |V|)-round MapReduce CC of Kiveris et al. ("Connected
 * Components in MapReduce and Beyond", SoCC'14), as the scale
 * companion to [[ConnectedComponents]]' reference-exact HashMin
 * (/root/reference/toolkits/cc.cpp:22-109).
 *
 * Why both exist: HashMin runs O(component diameter) supersteps — on
 * a 10^12-turn transcript graph whose conversation spines are chains,
 * the diameter is the longest conversation, i.e. thousands of rounds.
 * Star contraction converges in O(log |V|) rounds regardless of
 * diameter, each round a constant number of grouped shuffles over the
 * shrinking edge set. Same fixpoint: every vertex labeled with the
 * minimum id of its component (HashMin's labels — AlgoSpec pins the
 * equality), so the two are drop-in interchangeable and q_cc_fast
 * shares q_cc's independent structural DuckDB oracle.
 *
 * Round = large-star ∘ small-star over an edge set oriented
 * big-endpoint → small-endpoint:
 *
 *  - large-star(u): every strictly-larger neighbor of u is re-pointed
 *    at m(u) = min(N(u) ∪ {u}) — computed over BOTH orientations, one
 *    groupBy(min) + one co-keyed join;
 *  - small-star(u): u and its (all smaller) neighbors re-point at
 *    m(u) — one groupBy(min) + one join on the already big→small set.
 *
 * Scale shape: no |V|-sized state table at all — the working set IS
 * the edge set, which only shrinks (pairs merge as stars collapse), so
 * every round's shuffles move less data than the last; skewed hubs are
 * exactly the stars the algorithm contracts first. The
 * convergence test (set fingerprint: count + exact decimal sum of
 * xxhash64) costs one scalar agg over the already-materialized cut.
 */
object CCStar {

  final case class Result(labels: DataFrame, rounds: Int)

  def run(
      graph: LinkGraph,
      maxRounds: Int = 64,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): Result = {
    require(graph.symmetric, "star-contraction CC expects a symmetrized graph")
    val np = graph.numPartitions

    // The checkpointable state IS the contracting edge set — saved as
    // (id = u, v) rows per Checkpoint's id-bucketed lineage contract.
    // Star contraction is a pure function of that set, so a resumed
    // run replays bit-identically (CheckpointSpec). A round that leaves
    // the set's fingerprint unchanged has reached the fixpoint.
    var fp: (Long, java.math.BigDecimal) = null
    def cut(edges: DataFrame): Superstep.Cut = {
      val e = edges.graftCut
      val prev = fp
      fp = fingerprint(e)
      Superstep.Cut(e, fp._1, more = fp != prev)
    }
    val r = Superstep.loop("ccstar", maxRounds, ckpt, ckptEvery, resume)(
      start = resumed => cut(resumed match {
        case Some(k) =>
          ckpt.get.load(graph.spark, k)
            .select(col("id").as("u"), col("v"))
            .repartition(np, col("u"))
        case None =>
          // Canonical big→small orientation; the symmetric build carries
          // both directions of each pair, so the filter keeps each once.
          graph.edgesBySrc
            .where(col("src") > col("dst"))
            .select(col("src").as("u"), col("dst").as("v"))
            .repartition(np, col("u"))
      }),
      step = { c =>
        val e = c.state
        // ---- large-star ----
        val nbrs = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        val minsL = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m"))
        val eL = nbrs.join(minsL, "u")
          .where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .where(col("u") =!= col("v"))
          .distinct()
        // ---- small-star (eL is big→small: every neighbor of u is < u,
        // so m(u) = min over out-neighbors; u itself can't be the min) --
        val minsS = eL.groupBy(col("u")).agg(min(col("v")).as("m"))
        cut(eL.join(minsS, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .unionByName(minsS.select(col("u"), col("m").as("v")))
          .where(col("u") =!= col("v"))
          .distinct()
          .repartition(np, col("u")))
      },
      saved = _.select(col("u").as("id"), col("v")))

    // Fixpoint is a star forest (member → component-min root); isolated
    // vertices and the roots themselves label to their own id.
    val labels = graph.vertices.select(col("id"))
      .join(r.state.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("lbl"))
      .repartition(np, col("id"))
      .graftCut
    r.state.graftFree()
    Result(labels, r.iterations)
  }

  /** Exact set fingerprint: (row count, Σ xxhash64(u,v) in
   * decimal(38,0)) — a changed edge set cannot keep both. */
  private def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
    val r = e.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("h")).first()
    (r.getLong(0), r.getDecimal(1))
  }
}
