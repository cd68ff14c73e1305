package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * Connected components via HashMin label propagation, transcribing
 * /root/reference/toolkits/cc.cpp:22-109 on a SYMMETRIZED graph
 * (cc.cpp:121 loads undirected):
 *
 *  - `label[v] = v` init (:31-37)
 *  - each superstep: active vertices push their label along
 *    out-edges; a dst whose label improves (`msg < label`) adopts it
 *    and joins the next frontier (:44-79)
 *  - terminate when no vertex was activated (:39).
 *
 * The state `(id, lbl, active)` is complete and resident: every
 * vertex's label plus the frontier flag, the Spark form of Gemini's
 * vertex array and its active bitmap (core/bitmap.hpp). A superstep
 * gathers from `state.where(active)` and runs ONE left join
 * `state ⋈ msgs` into the lineage cut, whose single action also
 * returns the activated count. That is 2 Spark jobs per superstep
 * whatever the frontier's size (the message shuffle's map stage and
 * the cut); PageRankJobsSpec pins it. Checkpoints are the state's
 * `(id, lbl)`, which a resume loads as they are.
 */
object ConnectedComponents {

  final case class Result(labels: DataFrame, iterations: Int, activeHistory: Seq[Long])

  def run(
      graph: LinkGraph,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 5,
      resume: Boolean = false,
      maxIterations: Int = 10000,
      saltBuckets: Int = -1,
      initLabels: Option[DataFrame] = None,
      initFrontier: Option[DataFrame] = None): Result = {
    require(graph.symmetric, "CC expects a symmetrized graph (cc.cpp:121)")
    val salt = Superstep.resolveSalt(graph, saltBuckets)

    val history = scala.collection.mutable.ArrayBuffer[Long]()
    val r = Superstep.loop("cc", maxIterations, ckpt, ckptEvery, resume)(
      start = resumed => Superstep.cutActive((resumed match {
        case Some(k) =>
          // conservative resume frontier: every vertex re-sends its label
          // once (min is idempotent, so the fixpoint is the same) — unless
          // the checkpoint was saved at the fixpoint, where nothing moves
          ckpt.get.load(graph.spark, k)
            .withColumn("active", lit(ckpt.get.activeCount(k) > 0))
        case None if initLabels.nonEmpty =>
          // warm start ([[incremental]]): caller-supplied labels, one row
          // per vertex (constant per component of the already-processed
          // edge subset), and a restricted frontier (endpoints of the new
          // edges) — the fixpoint is identical to a cold run because
          // min-propagation wakes exactly the vertices whose label can
          // still drop.
          val labelled = initLabels.get.select(col("id"), col("lbl"))
          initFrontier match {
            case Some(f) =>
              labelled
                .join(f.select(col("id")).distinct().withColumn("awake", lit(true)), Seq("id"), "left")
                .withColumn("active", coalesce(col("awake"), lit(false)))
            case None => labelled.withColumn("active", lit(true))
          }
        case None =>
          graph.degrees.select(col("id"), col("id").as("lbl"), lit(true).as("active"))
      }).select(col("id"), col("lbl"), col("active"))
        .repartition(graph.numPartitions, col("id"))),
      step = { c =>
        history += c.count
        Superstep.cutActive(Superstep.withMessages(graph, c.state, Seq("lbl"),
            signal = col("lbl"), combine = min, saltBuckets = salt)
          .select(col("id"),
            least(col("lbl"), col("msg")).as("lbl"),
            coalesce(col("msg") < col("lbl"), lit(false)).as("active")))
      },
      saved = _.select(col("id"), col("lbl")))
    Result(r.state.select(col("id"), col("lbl")), r.iterations, history.toSeq)
  }

  /** Number of distinct components (reference report, cc.cpp:90-104). */
  def componentCount(labels: DataFrame): Long =
    labels.select(col("lbl")).distinct().count()

  /**
   * Incremental connectivity maintenance — the streaming-graph form of
   * HashMin the batch reference cannot express: components of the
   * edge set WITHOUT the new edges are computed first (phase 1), then
   * the new edges arrive and ONLY their endpoints wake (phase 2's
   * initial frontier). Mass merges ripple out from there; vertices in
   * untouched components are never re-examined — at 10^12-edge scale
   * with a small arrival batch, phase 2 touches O(affected) rows
   * instead of O(|V|), and each merge needs O(merged-diameter)
   * supersteps instead of restarting the global O(diameter) loop.
   *
   * The fixpoint label is one value per merged component (the min
   * phase-1 label it contains): phase-1 labels are constant per old
   * component, label differences exist only across new edges, and an
   * improvement chain propagates from a new-edge endpoint to every
   * vertex whose label must drop. The keyed output (min key per final
   * label group) therefore equals a cold run's — [[run]] and
   * [[incremental]] share one oracle.
   *
   * @param newEdgePred predicate over (src, dst, weight) rows of
   *        `graph.edgesBySrc` selecting the NEWLY-ARRIVED edges; the
   *        complement is the already-processed edge set
   */
  def incremental(
      graph: LinkGraph,
      newEdgePred: org.apache.spark.sql.Column,
      maxIterations: Int = 10000): Result =
    incrementalTimed(graph, newEdgePred, maxIterations).result

  /** `phase1Seconds` = the cold component build on the old edge set
   * (what a bench cell pays to SIMULATE the pre-existing batch);
   * `phase2Seconds` = the warm merge ripple from the arrival
   * endpoints — the operator's real RECURRING cost per batch. */
  final case class IncResult(result: Result, phase1Seconds: Double, phase2Seconds: Double)

  def incrementalTimed(
      graph: LinkGraph,
      newEdgePred: org.apache.spark.sql.Column,
      maxIterations: Int = 10000): IncResult = {
    require(graph.symmetric, "CC expects a symmetrized graph (cc.cpp:121)")
    // Phase-1 graph = the same vertex dictionary + partitioning with
    // the new edges filtered out (filter preserves the src clustering,
    // so co-partitioned gathers still skip the edge-side shuffle). On
    // a symmetric graph the filtered rows are their own transpose.
    val oldEdges = graph.edgesBySrc.where(!newEdgePred)
    val oldByDst = oldEdges
      .select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      .select(col("src"), col("dst"), col("weight"))
    val nOld = oldEdges.count()
    val oldGraph = graph.copy(
      edgesBySrc = oldEdges, edgesByDst = oldByDst, numEdges = nOld)
    // Phase 1 via star contraction (CCStar): O(log|V|) rounds instead
    // of HashMin's O(diameter) — on chain-heavy transcript graphs the
    // old-edge components ARE long chains, exactly HashMin's worst
    // case. The fixpoint is the same min-id-per-component labeling
    // (q_cc_fast shares q_cc's oracle), which is all the warm start
    // needs: labels constant per old component.
    val t0 = System.nanoTime()
    val phase1 = CCStar.run(oldGraph)
    val t1 = System.nanoTime()

    val newEdges = graph.edgesBySrc.where(newEdgePred)
    val touched = newEdges.select(col("src").as("id"))
      .unionByName(newEdges.select(col("dst").as("id")))
      .distinct()
    val warmFrontier = phase1.labels.join(touched, "id")
    val phase2 = run(graph, maxIterations = maxIterations,
      initLabels = Some(phase1.labels), initFrontier = Some(warmFrontier))
    val t2 = System.nanoTime()
    phase1.labels.graftFree()
    IncResult(
      Result(phase2.labels, phase1.rounds + phase2.iterations,
        phase2.activeHistory),
      (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }
}
