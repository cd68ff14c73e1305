package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Betweenness centrality from a root, transcribing
 * /root/reference/toolkits/bc.cpp:24-196 (the level-bitmap variant,
 * COMPACT=0):
 *
 * FORWARD (:36-100): level-synchronous BFS accumulating path counts —
 * frontier pushes `σ[src]`; unvisited dsts sum incoming messages into
 * their σ and form the next level; every level's (id, σ) is retained
 * (the reference keeps one bitmap per level, :49,96).
 *
 * BACKWARD (:102-168): on the TRANSPOSED graph (:121 — our dual
 * dst-clustered layout, LinkGraph.transpose), levels unwind deepest-
 * first: each level's members take `dep = 1/σ + Σ dep[child]` where
 * children are the next-deeper level's frontier; the visited guard
 * (reference `dense_selective`) means a vertex receives messages only
 * in the step before its own level pops — transcribed here as the
 * per-step restriction of the merge to that level's members.
 *
 * FINALIZE (:170-176): `bc = (dep − 1/σ) / (1/σ) = dep·σ − 1`.
 * Output restricted to REACHED vertices (the reference computes
 * 1/σ = ∞ → NaN for unreached ones, :184-190 prints them regardless;
 * a NaN column is not a useful contract). Output carries σ too —
 * the reference prints the (dependency, num_paths) pair.
 *
 * Both passes are one body for [[run]] (rows keyed by `id`) and
 * [[runBatch]] (keyed by `(id, root)`). The forward pass runs on
 * [[Superstep.loop]] with the reached rows `(keys…, sigma, lvl,
 * active)` as its resident state, the MultiSourceBfs shape: the
 * level's messages are summed per key, anti-joined against the state
 * and appended as the new active level, all inside one lineage cut.
 * The backward pass reads each level as `state.where(lvl === l)`.
 * Checkpoints are `(keys…, sigma, lvl)` after each forward superstep;
 * a resume re-activates the last level and replays the rest of the
 * forward pass, and the backward pass always runs from the final
 * forward state. A level, forward and backward together, is 4 Spark
 * jobs for [[run]] and 6 for [[runBatch]], pinned by PageRankJobsSpec.
 */
object Betweenness {

  final case class Result(bc: DataFrame, levels: Int)

  def run(
      graph: LinkGraph,
      rootId: Long,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 4,
      resume: Boolean = false): Result = {
    val spark = graph.spark
    import spark.implicits._
    // Emit the reference's per-vertex report pair (dependencies,
    // num_paths) — bc.cpp:184-190 prints both; σ is an exact integer
    // so it doubles as a hash-exact oracle column. dep and the BFS
    // level ride along so downstream consumers (EdgeBetweenness) use
    // the EXACT backward-pass dependency instead of re-deriving it
    // from bc — the (bc+1)/σ inversion loses low double bits for
    // large dep·σ.
    val (bc, depth) = brandes(graph, Seq("id"),
      Seq((rootId, 1.0, 0, true)).toDF("id", "sigma", "lvl", "active"),
      ckpt, ckptEvery, resume)(
      _.select(col("id"), col("sigma"), (col("dep") * col("sigma") - 1.0).as("bc"),
        col("dep"), col("lvl")))
    Result(bc, depth)
  }

  final case class BatchResult(bc: DataFrame, levels: Int)

  /**
   * Batched multi-root Brandes — K roots in ONE forward/backward pass
   * (the MSBFS trick applied to betweenness): state rows carry a
   * `root` column, every superstep's edge join is shared by all K
   * searches, and messages combine per (dst, root). K roots cost
   * O(diameter) jobs total instead of K·O(diameter) — the job count,
   * not the row count, is the scale bottleneck of per-root loops.
   *
   * This is the building block of SAMPLED approximate betweenness
   * (Brandes-Pich: bc ≈ |V|/K · Σ over K sampled roots of per-root
   * dependency), the only affordable form at 10^12 edges where exact
   * BC's |V| rooted passes are out of the question. The per-(root,
   * vertex) output keeps the σ/dependency pairs exact (reference
   * report shape, bc.cpp:184-190) so the estimator stays a trivial
   * grouped sum.
   *
   * Roots advance in lockstep: level l holds (id, root, sigma) for
   * every pair at distance l FROM ITS ROOT; a root whose search
   * exhausts early simply stops contributing rows. The backward
   * unwind processes global levels deepest-first — a shallow root's
   * leaves enter at their own level with no children, which the sum
   * coalesces to 0, exactly Brandes' base case.
   */
  def runBatch(
      graph: LinkGraph,
      roots: Seq[Long],
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): BatchResult = {
    require(roots.nonEmpty && roots.distinct.size == roots.size, "roots must be distinct")
    val spark = graph.spark
    import spark.implicits._
    val (bc, depth) = brandes(graph, Seq("id", "root"),
      roots.map(r => (r, r, 1.0, 0, true)).toDF("id", "root", "sigma", "lvl", "active"),
      ckpt, ckptEvery, resume)(
      _.select(col("id"), col("root"), col("sigma"),
        (col("dep") * col("sigma") - 1.0).as("bc")))
    BatchResult(bc, depth)
  }

  /** The forward and backward passes over rows keyed by `keys` (`id`
   * first), from the root rows `(keys…, sigma = 1, lvl = 0, active)`.
   * `out` selects the result columns from `(keys…, dep, sigma, lvl)`;
   * its cut is returned with the depth, and every other cut is freed. */
  private def brandes(
      graph: LinkGraph,
      keys: Seq[String],
      roots: DataFrame,
      ckpt: Option[Checkpoint],
      ckptEvery: Int,
      resume: Boolean)(
      out: DataFrame => DataFrame): (DataFrame, Int) = {
    val k = keys.map(col)
    // Σ of column v over each key's in-edges in g, keyed like the rows
    def sumOver(g: LinkGraph, rows: DataFrame, v: String): DataFrame =
      Superstep.outEdges(g, rows.select(k :+ col(v): _*))
        .groupBy(col("dst").as("id") +: k.tail: _*)
        .agg(sum(col(v)).as(v))

    // ---- forward: level-synchronous path counts
    var level = 0
    val r = Superstep.loop("bc", Int.MaxValue, ckpt, ckptEvery, resume)(
      start = { resumed =>
        level = resumed.getOrElse(0)
        val st = resumed match {
          case Some(i) => ckpt.get.load(graph.spark, i).withColumn("active", col("lvl") === i)
          case None => roots
        }
        Superstep.cutActive(st.repartition(graph.numPartitions, k: _*))
      },
      step = { c =>
        level += 1
        val next = sumOver(graph, c.state.where(col("active")), "sigma")
          .join(c.state.hint("shuffle_hash"), keys, "left_anti")
          .select(k :+ col("sigma") :+ lit(level).as("lvl") :+ lit(true).as("active"): _*)
        Superstep.cutActive(c.state.withColumn("active", lit(false)).unionByName(next))
      },
      saved = _.select(k :+ col("sigma") :+ col("lvl"): _*))
    // the last forward superstep found no new level
    val depth = r.iterations - 1
    val state = r.state

    // ---- backward on the transposed graph, levels deepest-first
    val t = graph.transpose
    var deps = List[DataFrame]() // (keys…, dep) per level, head = the level just processed
    for (l <- depth to 0 by -1) {
      val inv = state.where(col("lvl") === l)
        .select(k :+ (lit(1.0) / col("sigma")).as("inv"): _*)
      val dep =
        if (deps.isEmpty) inv.withColumnRenamed("inv", "dep")
        else
          // only THIS level's members (of the same root's search) may
          // receive: the visited guard, bc.cpp:139,160
          inv.join(sumOver(t, deps.head, "dep").hint("shuffle_hash"), keys, "left")
            .select(k :+ (col("inv") + coalesce(col("dep"), lit(0.0))).as("dep"): _*)
      deps = dep.graftCut :: deps
    }
    val bc = out(deps.reduce(_ unionByName _).join(state, keys)).graftCut
    (state :: deps).foreach(_.graftFree())
    (bc, depth)
  }
}
