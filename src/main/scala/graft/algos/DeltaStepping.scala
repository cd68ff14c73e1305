package graft.algos

import org.apache.spark.sql.DataFrame
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
 * State is sparse (reached vertices only): the distance table is a
 * compacted merge chain, `pending` (ids not yet relaxed
 * from their current distance) and the per-bucket member set are id
 * frames that join distance co-partitioned. The light/heavy edge
 * splits are filtered views of the resident clustered layout, persisted
 * once — no re-shuffle of the edge side anywhere.
 */
object DeltaStepping {

  final case class Result(distances: DataFrame, buckets: Int, rounds: Int)

  val compactEvery = 4

  /** @return distances (id, dist) for REACHED vertices only.
   *
   * Checkpointing snapshots at BUCKET boundaries (dist + the pending
   * flag, Sssp's layout): between buckets the two tables are the
   * complete algorithm state — the bucket index itself is recomputed
   * from the pending minimum — so a resumed run replays the remaining
   * buckets exactly (Round3Spec). */
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

    var dist: DataFrame = null
    var pending0: DataFrame = null
    var startBucket = 0
    val resumed = if (resume) ckpt.flatMap(_.latestIteration()) else None
    resumed match {
      case Some(k) =>
        val st = ckpt.get.load(spark, k)
          .repartition(np, col("id")).graftCut
        dist = st.select(col("id"), col("dist")).graftCut
        pending0 = st.where(col("pending")).select(col("id")).graftCut
        st.graftFree()
        startBucket = k
      case None =>
        dist = Seq((rootId, 0.0)).toDF("id", "dist")
          .repartition(np, col("id")).graftCut
    }

    // Free discipline: f/improved cuts are referenced by TWO lazy
    // chains (pending's anti-join/union tree and dist's merge chain),
    // so nothing is freed mid-bucket — superseded cuts collect in
    // `junk` and are freed only at bucket end, AFTER both chains have
    // been re-materialized past them (dist.graftCut + pending cut).
    var junk = List[DataFrame]()
    var distDirty = false
    def mergeDist(improved: DataFrame): Unit = {
      dist = dist
        .join(improved.select(col("id"), col("dist").as("nd")), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("nd"), col("dist")).as("dist"))
      distDirty = true
    }

    var distBase = dist // the cut anchoring the current merge chain
    // ids whose current distance has not been relaxed from yet
    var pending =
      if (pending0 != null) pending0
      else dist.select(col("id")).graftCut
    var nPending = pending.count()
    var buckets = startBucket
    var rounds = 0

    while (nPending > 0 && rounds < maxRounds) {
      val lo = math.floor(
        pending.join(dist, "id").agg(min(col("dist"))).first().getDouble(0) / delta) * delta
      val hi = lo + delta
      buckets += 1

      // ---- light fixpoint inside the bucket ----
      var members: DataFrame = null // ids settled into this bucket
      var inner = true
      while (inner && rounds < maxRounds) {
        val (f, nf) = pending.join(dist, "id").where(col("dist") < hi).graftCutCount
        rounds += 1
        junk = f :: junk
        if (nf == 0) inner = false
        else {
          pending = pending.join(f.select(col("id")), Seq("id"), "left_anti")
          members =
            if (members == null) f.select(col("id"))
            else members.unionByName(f.select(col("id")))
          if (gLight.numEdges > 0) {
            val msgs = Superstep.gather(
              gLight, f, signal = col("dist") + col("weight"), combine = min,
              activeEdges = Superstep.massOrBound(gLight, f, nf), activeCount = nf)
            val (improved, n) = msgs
              .join(dist.select(col("id"), col("dist").as("old")), Seq("id"), "left")
              .where(col("old").isNull || col("msg") < col("old"))
              .select(col("id"), col("msg").as("dist"))
              .graftCutCount
            junk = improved :: junk
            if (n > 0) {
              mergeDist(improved)
              pending = pending.unionByName(improved.select(col("id"))).distinct()
            }
          }
        }
      }

      // ---- one heavy relaxation from every member of the settled bucket ----
      if (members != null && gHeavy.numEdges > 0) {
        val (bm, nb) = members.distinct().join(dist, "id").graftCutCount
        rounds += 1
        junk = bm :: junk
        if (nb > 0) {
          val msgs = Superstep.gather(
            gHeavy, bm, signal = col("dist") + col("weight"), combine = min,
            activeEdges = Superstep.massOrBound(gHeavy, bm, nb), activeCount = nb)
          val (improved, n) = msgs
            .join(dist.select(col("id"), col("dist").as("old")), Seq("id"), "left")
            .where(col("old").isNull || col("msg") < col("old"))
            .select(col("id"), col("msg").as("dist"))
            .graftCutCount
          junk = improved :: junk
          if (n > 0) {
            mergeDist(improved)
            pending = pending.unionByName(improved.select(col("id"))).distinct()
          }
        }
      }

      // ---- bucket end: re-materialize both chains, then free ----
      if (distDirty) {
        val d2 = dist.graftCut
        junk = distBase :: junk
        dist = d2
        distBase = d2
        distDirty = false
      }
      val (p2, np2) = pending.graftCutCount
      junk = pending :: junk
      pending = p2
      nPending = np2
      junk.filter(d => (d ne dist) && (d ne pending)).foreach(_.graftFree())
      junk = Nil
      if (ckpt.nonEmpty && (nPending == 0 || buckets % ckptEvery == 0))
        ckpt.get.save(
          dist.join(pending.select(col("id"), lit(true).as("pending")), Seq("id"), "left")
            .select(col("id"), col("dist"),
              coalesce(col("pending"), lit(false)).as("pending")),
          buckets, nPending)
    }

    val finalDist = dist
    pending.graftFree()
    lightE.unpersist(blocking = false)
    heavyE.unpersist(blocking = false)
    Result(finalDist, buckets, rounds)
  }
}
