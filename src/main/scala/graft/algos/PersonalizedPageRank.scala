package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Personalized PageRank (fixed iterations): the random walk teleports
 * back to a SEED SET instead of everywhere —
 *
 *   p_i(v) = (1-d)·tele(v) + d·Σ_{u→v} p_{i-1}(u)/outdeg(u),
 *   tele uniform on the seeds
 *
 * — the standard related-entity query on a link graph ("which turns /
 * tools sit close to THIS one"). Beyond-reference (the reference's
 * PageRank is global-teleport only); dangling mass is dropped, not
 * redistributed, matching the reference's global-PageRank choice
 * (pagerank.cpp:77-84 keeps sink mass un-redistributed).
 *
 * Unlike global PageRank (all vertices active ⇒ always dense,
 * pagerank.cpp:32-33), PPR mass RADIATES from the seeds: the nonzero
 * support starts at |S| vertices and grows one hop per iteration; the
 * support rows are the build side of the co-partitioned gather, so
 * the edge side never shuffles. State stays sparse throughout: only
 * nonzero rows are materialized per superstep; zeros are filled in
 * once at the end.
 */
object PersonalizedPageRank {

  final case class Result(scores: DataFrame, iterations: Int)

  def run(
      graph: LinkGraph,
      seeds: Seq[Long],
      iterations: Int = 5,
      d: Double = 0.85,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 2,
      resume: Boolean = false): Result = {
    require(seeds.nonEmpty, "PPR needs at least one seed")
    require(iterations >= 1, "PPR needs at least one iteration")
    val degs = graph.degrees.select(col("id"), col("out_degree"))

    // sparse teleport vector (id, t), t = 1/|S|
    val tele = graph.vertices
      .where(col("id").isin(seeds: _*))
      .select(col("id"), lit(1.0 / seeds.size).as("t"))

    // state (id, raw, v): raw = score, v = raw/outdeg — nonzero rows
    // only; the count is the support size
    def cut(state: DataFrame): Superstep.Cut = {
      val (s, n) = state.graftCutCount
      Superstep.Cut(s, n, more = true)
    }
    val r = Superstep.loop("ppr", iterations, ckpt, ckptEvery, resume)(
      start = {
        case Some(k) =>
          cut(ckpt.get.load(graph.spark, k).repartition(graph.numPartitions, col("id")))
        case None =>
          cut(tele.join(degs, "id")
            .select(
              col("id"), col("t").as("raw"),
              when(col("out_degree") > 0, col("t") / col("out_degree"))
                .otherwise(col("t")).as("v")))
      },
      step = { c =>
        val msgs = Superstep.gather(
          graph, c.state.select(col("id"), col("v")), signal = col("v"), combine = sum)
        // support = seeds ∪ message receivers (sparse full-outer merge)
        cut(tele
          .join(msgs, Seq("id"), "full_outer")
          .select(
            col("id"),
            (lit(1.0 - d) * coalesce(col("t"), lit(0.0)) +
              lit(d) * coalesce(col("msg"), lit(0.0))).as("raw"))
          .join(degs, "id")
          .select(
            col("id"), col("raw"),
            when(col("out_degree") > 0, col("raw") / col("out_degree"))
              .otherwise(col("raw")).as("v")))
      })
    Result(r.state.select(col("id"), col("raw").as("score")), iterations)
  }

  /**
   * K independent PPR vectors in ONE superstep loop — the MSBFS trick
   * ([[MultiSourceBfs]]) applied to personalization: state is the
   * sparse (seed, vertex) score matrix, messages combine per
   * (seed, dst), and the resident edge table is scanned ONCE per
   * iteration for all K seeds instead of K times. This is how a
   * production system precomputes related-entity vectors for its top
   * hubs: K rides in the row count (perfectly data-parallel), not in
   * the job count.
   *
   * Each seed's vector uses teleport mass 1.0 on that seed (the
   * single-seed semantics of [[run]] with |S| = 1, replayed per seed).
   *
   * @return dense (seed_id, id, raw) for every (seed, vertex) pair —
   *         zero-score rows included so the export matches the
   *         oracle's deg × seeds frame.
   */
  def runBatch(
      graph: LinkGraph,
      seeds: Seq[Long],
      iterations: Int = 5,
      d: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty && iterations >= 1)
    // The DENSE export (final crossJoin below) materializes K·|V|
    // rows — the deliberate MSBFS-state trade: linear in K, fine for
    // the top-hub use case (K in the tens/hundreds), NOT for K ~ |V|.
    // Hard cap so a caller cannot accidentally build a |V|² frame.
    require(seeds.size <= 1024,
      s"runBatch is K·|V| in state/export; got K=${seeds.size} seeds (cap 1024) — " +
        "for larger K, shard the seed set across calls")
    val spark = graph.spark
    import spark.implicits._
    val degs = graph.degrees.select(col("id"), col("out_degree"))
    val seedDf = seeds.toDF("sid")

    var curr = seedDf.select(col("sid"), col("sid").as("id"))
      .join(degs, "id")
      .select(col("sid"), col("id"), lit(1.0).as("raw"),
        when(col("out_degree") > 0, lit(1.0) / col("out_degree"))
          .otherwise(lit(1.0)).as("v"))
      .graftCut
    var prev = curr
    for (_ <- 1 to iterations) {
      val msgs = curr.select(col("sid"), col("id").as("src"), col("v"))
        .join(graph.edgesBySrc.select(col("src"), col("dst")), "src")
        .groupBy(col("sid"), col("dst").as("id"))
        .agg(sum(col("v")).as("msg"))
      val tele = seedDf.select(col("sid"), col("sid").as("id"), lit(1.0).as("t"))
      val next = tele
        .join(msgs, Seq("sid", "id"), "full_outer")
        .select(col("sid"), col("id"),
          (lit(1.0 - d) * coalesce(col("t"), lit(0.0)) +
            lit(d) * coalesce(col("msg"), lit(0.0))).as("raw"))
        .join(degs, "id")
        .select(col("sid"), col("id"), col("raw"),
          when(col("out_degree") > 0, col("raw") / col("out_degree"))
            .otherwise(col("raw")).as("v"))
        .graftCut
      prev.graftFree()
      prev = next
      curr = next
    }
    // densify to the seeds × vertices frame (zeros explicit)
    val out = seedDf.crossJoin(graph.vertices.select(col("id")))
      .join(curr.select(col("sid"), col("id"), col("raw")), Seq("sid", "id"), "left")
      .select(col("sid"), col("id"), coalesce(col("raw"), lit(0.0)).as("raw"))
    out
  }
}
