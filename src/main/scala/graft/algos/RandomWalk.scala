package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{LinkGraph, Superstep}
import graft.syntax._

/**
 * Deterministic random-walk sampling (DeepWalk/node2vec-style corpus
 * generation for graph-embedding training data): from each root, a
 * T-step walk where step t moves to the neighbor minimizing
 * `md5(cur_key || '|' || t || '|' || nbr_key)` — an md5-uniform but
 * fully deterministic choice, so the walk set is reproducible across
 * engines and oracle-checkable (the same rule replays in SQL). The
 * per-(vertex,step) seed means different walkers leaving the same
 * vertex at different steps diverge like independent draws.
 *
 * Beyond-reference operator (the reference's process_edges could
 * express a frontier walk but its toolkits don't sample walks); at
 * corpus scale this runs with MILLIONS of simultaneous walkers —
 * per step: one join of the walker frontier against the co-partitioned
 * out-edge table, one min-struct combine per walker, no job whose cost
 * depends on |V|.
 * Per-step work is O(Σ out_degree(cur)); the walker state never
 * exceeds (numWalkers) rows.
 *
 * Spark shape per step: frontier ⋈ edgesBySrc ([[Superstep.outEdges]]:
 * the ≤ numWalkers walker rows are the build side, one small exchange
 * to the edge table's src partitioning) → attach neighbor keys from the
 * vertex dict
 * (broadcast of the candidate rows, so the big table never shuffles)
 * → groupBy(walker).agg(min(struct(prio, nbr_key, nbr_id))).
 */
object RandomWalk {

  final case class Result(walks: DataFrame, steps: Int)

  /** @param roots    walk start vertex ids (one walker per root)
   *  @param weighted  false: uniform-flavored argmin-hash choice.
   *                   true: EDGE-WEIGHT-PROPORTIONAL choice — the
   *                   per-(walker, step) 60-bit hash h picks the
   *                   neighbor whose slot in the cumulative
   *                   integer-weight line (neighbors in key order)
   *                   contains `h mod Σw_q` — exact integer
   *                   arithmetic, so still fully replayable, but the
   *                   selection probability of each neighbor is
   *                   ∝ its edge weight (node2vec-style biased walk).
   *  @return walks: (root, step, id) — step 0 is the root itself;
   *          a walk stops early only if the current vertex has no
   *          out-neighbor (impossible on the symmetric graph). */
  /**
   * Skip-gram (center, context) TRAINING-PAIR census over keyed walk
   * sequences — the data-generation step a DeepWalk/node2vec trainer
   * runs downstream of the walk sampler: every ordered pair of
   * positions within `window` steps of each other on the same walk
   * yields one (center, context) observation.
   *
   * Scale shape: a self-join keyed on the walk id with a ±window
   * band on the step — fan-out ≤ 2·window per position, LINEAR in
   * total walk length, never walk×walk; then one hash-grouped count.
   *
   * @param walks (root_key, step, key) — e.g. the q_walks export
   * @return (center, context, n)
   */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    val a = walks.select(col("root_key").as("r"), col("step").as("sa"), col("key").as("center"))
    val b = walks.select(col("root_key").as("rb"), col("step").as("sb"), col("key").as("context"))
    a.join(b, col("rb") === col("r") && col("sb") =!= col("sa") &&
        abs(col("sb") - col("sa")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  def run(
      graph: LinkGraph,
      roots: Seq[Long],
      steps: Int,
      weighted: Boolean = false): Result = {
    val spark = graph.spark
    import spark.implicits._

    // (root, id, key) of each walker's current position. Every
    // frontier goes through graftCut — persisted AND plan-truncated to
    // a LogicalRDD leaf, so the step-t plan doesn't nest the whole
    // step-(t-1) join chain (9 nested chains OOM'd plan printing) and
    // the final union is a flat union of leaves.
    val rootDf = roots.toDF("id")
    var cur = graph.vertices.join(broadcast(rootDf), "id")
      .select(col("id").as("root"), col("id"), col("key"))
      .graftCut
    var out = cur.select(col("root"), lit(0).as("step"), col("id"))
    var frontiers = List(cur)

    for (t <- 1 to steps) {
      val nbrs = Superstep.outEdges(graph, cur)
        .select(col("root"), col("key").as("cur_key"), col("dst"), col("weight"))
      // neighbor keys: broadcast the (small) candidate set against the
      // vertex dict so the dict never shuffles
      val keyed = graph.vertices
        .select(col("id").as("dst"), col("key").as("nbr_key"))
        .join(broadcast(nbrs), "dst")
      cur = (if (weighted) {
        // cumulative integer weights along the key-ordered neighbor
        // line; the hash threshold lands in one neighbor's slot. The
        // window partitions by walker over the (small) joined frontier.
        val byWalker = Window.partitionBy(col("root"))
        keyed
          .withColumn("wq", round(col("weight") * 1000).cast("long"))
          .withColumn("cum", sum(col("wq")).over(
            byWalker.orderBy(col("nbr_key"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("th", pmod(
            conv(substring(md5(concat_ws("|", col("cur_key"), lit(t))), 1, 15), 16, 10)
              .cast("long"),
            sum(col("wq")).over(byWalker)))
          .where(col("cum") > col("th"))
          .select(col("root"),
            struct(col("cum"), col("nbr_key").as("k"), col("dst").as("i")).as("cand"))
      } else {
        keyed.select(col("root"),
          struct(
            md5(concat_ws("|", col("cur_key"), lit(t), col("nbr_key"))).as("prio"),
            col("nbr_key").as("k"),
            col("dst").as("i")).as("cand"))
      })
        .groupBy(col("root"))
        .agg(min(col("cand")).as("c"))
        .select(col("root"), col("c.i").as("id"), col("c.k").as("key"))
        .graftCut
      frontiers = cur :: frontiers
      out = out.unionByName(cur.select(col("root"), lit(t).as("step"), col("id")))
    }
    val walks = out.graftCut
    frontiers.foreach(_.graftFree())
    Result(walks, steps)
  }

  /**
   * node2vec SECOND-ORDER biased walk (Grover & Leskovec 2016): the
   * step distribution depends on the PREVIOUS vertex — return to
   * prev is damped (1/p), staying in prev's neighborhood is favored
   * (1), venturing two hops out is damped (1/q). Integer bias
   * multipliers (default return 2 : neighbor 4 : far 1 ≙ p = 2,
   * q = 4) keep the cumulative-slot pick exact, so the oracle
   * replays every step. Step 1 has no prev — every candidate takes
   * the far bias, i.e. a plain weighted step, both engines alike.
   *
   * The one addition over the weighted walk is the prev-adjacency
   * test: candidate rows are tiny (Σ deg(cur)), so membership is ONE
   * co-partitioned scan of the edge table against the BROADCAST
   * candidate set per step — the big table never shuffles, exactly
   * the frontier shape of the other walk modes.
   */
  def runNode2vec(
      graph: LinkGraph,
      roots: Seq[Long],
      steps: Int,
      retBias: Long = 2,
      nbrBias: Long = 4,
      farBias: Long = 1): Result = {
    val spark = graph.spark
    import spark.implicits._
    val rootDf = roots.toDF("id")
    var cur = graph.vertices.join(broadcast(rootDf), "id")
      .select(col("id").as("root"), lit(-1L).as("prev"), col("id"), col("key"))
      .graftCut
    var out = cur.select(col("root"), lit(0).as("step"), col("id"))
    var frontiers = List(cur)

    for (t <- 1 to steps) {
      val nbrs = Superstep.outEdges(graph, cur)
        .select(col("root"), col("prev"), col("src").as("cur_id"),
          col("key").as("cur_key"), col("dst"), col("weight"))
      val keyed = graph.vertices
        .select(col("id").as("dst"), col("key").as("nbr_key"))
        .join(broadcast(nbrs), "dst")
      // prev-adjacency flags: scan the co-partitioned edge table once
      // against the broadcast (prev, dst) candidate pairs
      val hit = graph.edgesBySrc.select(col("src").as("prev"), col("dst"))
        .join(broadcast(
          keyed.select(col("root"), col("prev"), col("dst")).where(col("prev") >= 0)),
          Seq("prev", "dst"))
        .select(col("root"), col("dst"), lit(1L).as("isnbr"))
      val byWalker = Window.partitionBy(col("root"))
      cur = keyed
        .join(broadcast(hit), Seq("root", "dst"), "left")
        .withColumn("bias",
          when(col("dst") === col("prev"), retBias)
            .when(col("isnbr").isNotNull, nbrBias)
            .otherwise(farBias))
        .withColumn("wq", round(col("weight") * 1000).cast("long") * col("bias"))
        .withColumn("cum", sum(col("wq")).over(
          byWalker.orderBy(col("nbr_key"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("th", pmod(
          conv(substring(md5(concat_ws("|", lit("n2"), col("cur_key"), lit(t))), 1, 15), 16, 10)
            .cast("long"),
          sum(col("wq")).over(byWalker)))
        .where(col("cum") > col("th"))
        .select(col("root"), col("cur_id").as("prev_cur"),
          struct(col("cum"), col("nbr_key").as("k"), col("dst").as("i")).as("cand"))
        .groupBy(col("root"))
        .agg(min(col("cand")).as("c"), first(col("prev_cur")).as("pc"))
        .select(col("root"), col("pc").as("prev"), col("c.i").as("id"), col("c.k").as("key"))
        .graftCut
      frontiers = cur :: frontiers
      out = out.unionByName(cur.select(col("root"), lit(t).as("step"), col("id")))
    }
    val walks = out.graftCut
    frontiers.foreach(_.graftFree())
    Result(walks, steps)
  }
}
