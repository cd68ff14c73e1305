package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Delta-stepping single-source shortest paths (Meyer & Sanders 2003)
 * — the scale companion to [[Sssp]]'s reference-exact label-correcting
 * loop, the same pairing as [[CCStar]] next to [[ConnectedComponents]].
 *
 * Why it exists: the per-superstep frontier relax runs O(weighted
 * diameter / min edge weight) Spark jobs — on a 10^12-turn graph whose
 * conversation spines are long weighted chains, that is thousands of
 * barriers. Delta-stepping processes tentative distances in Δ-wide
 * buckets: LIGHT edges (w < Δ) are relaxed to a fixpoint inside the
 * bucket (few inner rounds — a light chain can only advance Δ per
 * bucket), HEAVY edges (w ≥ Δ) exactly once per settled bucket. Total
 * rounds ≈ (longest distance)/Δ + light-chain rounds, with Δ the
 * knob between Dijkstra (Δ→0) and Bellman-Ford (Δ→∞).
 *
 * Same fixpoint as [[Sssp]] (nonnegative weights, min-combine), so
 * q_sssp_delta shares q_sssp's recursive-CTE DuckDB oracle — a green
 * row is hard evidence the bucketed schedule changes only the job
 * count, never a distance.
 *
 * The state is sparse: the reached rows only, `(id, dist, pending)`,
 * where `pending` marks the ids not yet relaxed from their current
 * distance. It is also the checkpoint's layout. One
 * [[Superstep.loop]] iteration is one bucket: its light rounds and its
 * heavy relaxation each run one gather and cut the state once, and the
 * `maxRounds` budget ends the bucket loop through `more`. A
 * relaxation is 3 Spark jobs (two shuffle map stages and the cut), and
 * a bucket adds one for its pending count: 7 on a unit-weight path at
 * Δ = 2, pinned by PageRankJobsSpec. The light/heavy edge splits are
 * filtered views of the resident clustered layout, persisted once — no
 * re-shuffle of the edge side anywhere.
 */
object DeltaStepping {

  final case class Result(distances: DataFrame, buckets: Int, rounds: Int)

  /** @return distances (id, dist) for REACHED vertices only.
   *
   * Checkpointing snapshots at BUCKET boundaries: between buckets the
   * state is the complete algorithm state — the bucket index itself is
   * recomputed from the pending minimum — so a resumed run replays the
   * remaining buckets exactly (Round3Spec). */
  def run(
      graph: LinkGraph,
      rootId: Long,
      delta: Double = 2.0,
      maxRounds: Int = 100000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): Result = {
    require(graph.symmetric,
      "the O(1) light/heavy transpose below swaps columns — symmetric graphs only")
    require(maxRounds >= 1, "delta-stepping needs at least one round")
    val spark = graph.spark
    import spark.implicits._
    val np = graph.numPartitions

    def sub(bySrc: DataFrame, n: Long): LinkGraph = graph.copy(
      edgesBySrc = bySrc,
      edgesByDst = bySrc
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")),
      numEdges = n)
    val lightE = graph.edgesBySrc.where(col("weight") < delta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val heavyE = graph.edgesBySrc.where(col("weight") >= delta)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gLight = sub(lightE, lightE.count())
    val gHeavy = sub(heavyE, heavyE.count())

    /** One relaxation of `s` along `g` from its rows matching `from`:
     * those rows stop pending unless improved, improved rows take the
     * new distance and pend, and newly reached ids are appended. Both
     * union halves read `msgs` as the left side of their join, so its
     * two copies plan alike and share one exchange; both stay clustered
     * by id, so the cut keeps the state's partitioning. The cut's
     * action counts the rows matching `hot`, kept as a column. */
    def relax(s: DataFrame, g: LinkGraph, from: Column, hot: Column): (DataFrame, Long) = {
      val msgs = Superstep.gather(g, s.where(from).select(col("id"), col("dist")),
        signal = col("dist") + col("weight"), combine = min)
      val improved = col("msg").isNotNull && col("msg") < col("dist")
      msgs.hint("shuffle_hash").join(s, Seq("id"), "right")
        .select(col("id"),
          when(improved, col("msg")).otherwise(col("dist")).as("dist"),
          (improved || col("pending") && !from).as("pending"))
        .unionByName(msgs.join(s.hint("shuffle_hash"), Seq("id"), "left_anti")
          .select(col("id"), col("msg").as("dist"), lit(true).as("pending")))
        .withColumn("hot", hot)
        .graftCutActive("hot")
    }

    var rounds = 0
    var low = 0.0 // the pending minimum of the last state counted
    /** The pending rows' count, and their minimum distance into `low`,
     * in one job (a DataFrame aggregate plans a second, its exchange). */
    def pendingCount(s: DataFrame): Long = {
      val (n, m) = s.where(col("pending")).select(col("dist")).queryExecution.toRdd
        .aggregate((0L, Double.PositiveInfinity))(
          (a, row) => (a._1 + 1, math.min(a._2, row.getDouble(0))),
          (a, b) => (a._1 + b._1, math.min(a._2, b._2)))
      low = m
      n
    }
    val r = Superstep.loop("delta", Int.MaxValue, ckpt, ckptEvery, resume)(
      start = { resumed =>
        val st = resumed match {
          case Some(k) => ckpt.get.load(spark, k)
          case None => Seq((rootId, 0.0, true)).toDF("id", "dist", "pending")
        }
        val s = st.repartition(np, col("id")).graftCut
        val n = pendingCount(s)
        Superstep.Cut(s, n, more = n > 0)
      },
      step = { c =>
        var s = c.state
        def advance(g: LinkGraph, from: Column, hot: Column): Long = {
          val (next, k) = relax(s, g, from, hot)
          if (s ne c.state) s.graftFree()
          s = next
          k
        }
        val lo = math.floor(low / delta) * delta
        val hi = lo + delta
        // ---- light fixpoint inside the bucket: each cut counts the rows
        // still light-pending, and the first round always relaxes (the
        // pending minimum is below hi), so s is a new cut ----
        val light = col("pending") && col("dist") < hi
        var nLight = 1L
        var inner = true
        while (inner && rounds < maxRounds) {
          rounds += 1
          if (nLight == 0) inner = false
          else nLight = advance(gLight, light, light)
        }
        // ---- one heavy relaxation from every row settled in the bucket ----
        if (gHeavy.numEdges > 0) {
          rounds += 1
          advance(gHeavy, !col("pending") && col("dist") >= lo && col("dist") < hi, lit(false))
        }
        val n = pendingCount(s)
        Superstep.Cut(s, n, more = n > 0 && rounds < maxRounds)
      },
      saved = _.select(col("id"), col("dist"), col("pending")))

    val distances = r.state.select(col("id"), col("dist")).graftCut
    r.state.graftFree()
    lightE.unpersist(blocking = false)
    heavyE.unpersist(blocking = false)
    Result(distances, r.iterations, rounds)
  }
}
