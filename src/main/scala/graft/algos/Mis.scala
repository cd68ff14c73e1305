package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Maximal independent set by Luby's algorithm with FIXED deterministic
 * priorities: each round, every active vertex whose (priority, key) is
 * a local minimum among its ACTIVE neighbors joins the set; its
 * neighbors drop out; repeat until no vertex is active. With a fixed
 * total order this converges to the unique lexicographically-first
 * MIS of that order — engine-portable and oracle-checkable, unlike
 * the re-randomized textbook variant. O(log |V|) rounds w.h.p.
 * (priorities are md5-uniform), 2 materialization jobs per round.
 *
 * Priorities hash the string KEY (first 60 bits of md5, identical to
 * the DuckDB oracle's `('0x'||substr(md5(key),1,15))::BIGINT`), so
 * the selected set is independent of the engine's id assignment.
 *
 * No reference counterpart (a classic vertex-centric algorithm the
 * reference's process_edges could express but its toolkits don't);
 * the signal/slot shape reuses [[Superstep.gather]] with a
 * struct-valued min combiner.
 */
object Mis {

  final case class Result(mis: DataFrame, rounds: Int, size: Long)

  /** Priority column: first 60 bits of md5(key). */
  private def withPri(verts: DataFrame): DataFrame =
    verts.select(col("id"), col("key"),
      conv(substring(md5(col("key")), 1, 15), 16, 10).cast("long").as("pri"))

  /** @return mis: (id, round) — MIS members and the 1-based round at
   *          which each was selected. */
  def run(
      graph: LinkGraph,
      maxRounds: Int = 10000,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 4,
      resume: Boolean = false): Result = {
    require(graph.symmetric, "MIS is defined on the symmetric graph")
    val spark = graph.spark
    import spark.implicits._

    // Checkpoint state = one row per undecided-or-member vertex:
    // (id, round) with round = -1 for still-active vertices, else the
    // 1-based selection round. Dropped-out vertices need no row; the
    // active set's (key, pri) payload is re-derived from the vertex
    // dict on resume (pri is a pure function of key).
    var active: DataFrame = null
    var activeCount = 0L
    var mis: DataFrame = null
    var round = 0
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(k) =>
        val st = ckpt.get.load(spark, k)
        val (a, n) = withPri(graph.vertices)
          .join(st.where(col("round") === -1).select(col("id")), "id")
          .repartition(graph.numPartitions, col("id"))
          .graftCutCount
        active = a
        activeCount = n
        mis = st.where(col("round") >= 0).select(col("id"), col("round").cast("int").as("round"))
        round = k
      case None =>
        active = withPri(graph.vertices)
          .repartition(graph.numPartitions, col("id"))
          .graftCut
        activeCount = graph.numVertices
        mis = Seq.empty[(Long, Int)].toDF("id", "round")
    }
    var freeLater = List[DataFrame]()

    while (activeCount > 0 && round < maxRounds) {
      round += 1
      val mass = Superstep.frontierEdgeMass(graph, active)
      // min (pri, key) over ACTIVE neighbors (struct min = lexicographic)
      val minNbr = Superstep.gather(
        graph, active,
        signal = struct(col("pri").as("p"), col("key").as("k")),
        combine = min,
        activeEdges = mass, activeCount = activeCount)
      val (winners, nWin) = active
        .join(minNbr, Seq("id"), "left")
        .where(col("msg").isNull ||
          struct(col("pri").as("p"), col("key").as("k")) < col("msg"))
        .select(col("id"), col("key"), col("pri"))
        .graftCutCount
      // neighbors of winners drop out
      val losers = Superstep.gather(
        graph, winners.select(col("id")),
        signal = lit(1), combine = min,
        activeEdges = Superstep.massOrBound(graph, winners, nWin),
        activeCount = nWin)
      val (nextActive, n) = active
        .join(winners.select(col("id")), Seq("id"), "left_anti")
        .join(losers.select(col("id")), Seq("id"), "left_anti")
        .graftCutCount
      mis = mis.unionByName(winners.select(col("id"), lit(round).as("round")))
      freeLater = active :: winners :: freeLater
      active = nextActive
      activeCount = n
      if (ckpt.nonEmpty && round % ckptEvery == 0 && activeCount > 0)
        ckpt.get.save(
          mis.select(col("id"), col("round"))
            .unionByName(active.select(col("id"), lit(-1).as("round"))),
          round, activeCount)
    }
    val (result, size) = mis.graftCutCount
    ckpt.foreach { c =>
      // maxRounds interrupt: keep the undecided set, unless the cadence
      // already saved this round
      if (activeCount > 0) {
        if (round % ckptEvery != 0)
          c.save(result.select(col("id"), col("round"))
            .unionByName(active.select(col("id"), lit(-1).as("round"))),
            round, activeCount)
      } else c.save(result, round, 0L) // converged: members only
    }
    (active :: freeLater).distinct.foreach(_.graftFree())
    Result(result, round, size)
  }
}
