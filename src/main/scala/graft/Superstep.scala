package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.syntax._

/**
 * The engine's dataflow core — the Spark-first re-expression of the
 * reference's `process_edges` (core/graph.hpp:1491-1866).
 *
 * One superstep = "every active vertex signals along its out-edges;
 * messages to the same dst are combined; dst state is updated".
 * Relationally: `state ⋈ edgesBySrc on src → groupBy(dst).agg(combine)`.
 * The four reference lambdas collapse into: the signal expression
 * (what each src emits), the combiner (Gemini's atomic
 * `write_add`/`write_min`, core/atomic.hpp:24-51 → `sum`/`min`), and
 * the caller-side state merge.
 *
 * One gather path, whatever the frontier's size: the active state is
 * the build side of a co-partitioned hash join with `edgesBySrc` (state
 * hash-partitioned by id = the edge table's src partitioning), and
 * partial aggregation before the message exchange is Gemini's
 * mirror-side combining (core/graph.hpp:1747-1799). Gemini's sparse
 * mode (core/graph.hpp:1501-1508) pays because it touches only the
 * active vertices' out-edges. A broadcast of a small frontier would
 * still stream all |E| edges, and the resident states are already
 * clustered by id, so it would save no shuffle and cost a job per
 * superstep. Frontier-proportional work needs a per-partition index
 * over the edge table instead.
 */
object Superstep {

  /** Opt-in per-superstep timing (set GRAFT_VERBOSE=1). */
  val verbose: Boolean = sys.env.get("GRAFT_VERBOSE").contains("1")
  def log(msg: => String): Unit = if (verbose) System.err.println(s"[superstep] $msg")

  /** Out-edge mass of a frontier = Σ out_degree over active ids (one
   * aggregation job). Kept only for linkbench's layer probe, which
   * still reports it; it goes in the next change to the benchmark. */
  def frontierEdgeMass(graph: LinkGraph, frontierState: DataFrame): Long = {
    val r = frontierState.select(col("id"))
      .join(graph.degrees, "id")
      .agg(coalesce(sum(col("out_degree")), lit(0L)))
      .first()
    r.getLong(0)
  }

  /**
   * The out-edges of `active(id, <payload>)`: `edgesBySrc ⋈ active` on
   * src, as rows `(src, dst, weight, <payload>)`.
   *
   * The `shuffle_hash` hint makes the active rows the build side and is
   * what keeps this join co-partitioned. A cut state is a stats-free
   * LogicalRDD, so the planner sizes it at defaultSizeInBytes while the
   * cached edge table reports its real size: unhinted, a graph under
   * the broadcast threshold plans a BroadcastHashJoin that ships the
   * WHOLE edge table every superstep (pinned by PlanSpec's
   * production-thresholds test). The repartition is a no-op when the
   * rows are already clustered by id; any other clustering (MSBFS's
   * `(id, root)`) pays one exchange of the active rows.
   */
  def outEdges(graph: LinkGraph, active: DataFrame): DataFrame =
    graph.edgesBySrc.join(
      active.withColumnRenamed("id", "src")
        .repartition(graph.numPartitions, col("src")).hint("shuffle_hash"),
      "src")

  /**
   * One gather step: join `activeState(id, <cols>)` to out-edges and
   * combine per destination.
   *
   * @param activeState state rows of ACTIVE vertices only (id + payload)
   * @param signal      expression over the joined row (state cols +
   *                    `src`, `weight`) producing the message value
   * @param combine     aggregate over `col("msg")`, e.g. `sum(...)`,
   *                    `min(...)`
   * @return (id, msg) — combined message per destination, clustered by id
   */
  def gather(
      graph: LinkGraph,
      activeState: DataFrame,
      signal: Column,
      combine: Column => Column,
      saltBuckets: Int = 0): DataFrame = {
    val msgs = outEdges(graph, activeState)
      .select(col("dst").as("id"), signal.as("msg"), col("src"))
    if (saltBuckets > 1) {
      // Explicit two-level salted aggregation for hub destinations
      // (north rule; Gemini's analogue is chunk tuning + work stealing,
      // core/graph.hpp:1340-1403): combine per (dst, salt) first so no
      // single reducer owns a hub's full in-degree, then combine the
      // ≤saltBuckets partials. Requires an associative combiner (sum/
      // min/max — all of ours). Map-side partial aggregation gives the
      // same effect implicitly; the salt makes the REDUCE side skew-
      // free too, which matters when a hub's combined input exceeds
      // one task even after partials.
      msgs
        .groupBy(col("id"), pmod(xxhash64(col("src")), lit(saltBuckets.toLong)).as("salt"))
        .agg(combine(col("msg")).as("msg"))
        .groupBy(col("id"))
        .agg(combine(col("msg")).as("msg"))
    } else {
      msgs
        .drop("src")
        .groupBy(col("id"))
        .agg(combine(col("msg")).as("msg"))
    }
  }

  /** [[gather]] with the two frontier statistics the removed broadcast
   * branch chose its plan by. Both are ignored. Kept only because
   * linkbench's layer probe still passes them; it goes in the next
   * change to the benchmark. */
  def gather(
      graph: LinkGraph,
      activeState: DataFrame,
      signal: Column,
      combine: Column => Column,
      activeEdges: Long,
      activeCount: Long): DataFrame =
    gather(graph, activeState, signal, combine)

  /** One iteration's state as [[loop]] sees it: the lineage-cut
   * `state`, the `count` its checkpoint sidecar records as
   * `active_count`, and whether another superstep should run from it. */
  final case class Cut(state: DataFrame, count: Long, more: Boolean)

  /** Cut a resident state `(id, <payload>, active)` — every row plus
   * the frontier flag, the Spark form of Gemini's vertex array and
   * active bitmap (core/bitmap.hpp). The cut's one action also returns
   * the active count; the loop goes on while any row is active. */
  def cutActive(state: DataFrame): Cut = {
    val (s, n) = state.graftCutActive("active")
    Cut(s, n, more = n > 0)
  }

  /** One resident-state superstep's messages: [[gather]] from the
   * active rows of `c.state` (their `id` and `payload` columns), then
   * ONE left join `state ⋈ msgs` by id, so each row sees its combined
   * message as a nullable `msg`. The join is hinted `shuffle_hash`:
   * unhinted, AQE re-plans it as a broadcast of `msgs` (an extra job).
   * Both sides are clustered by id, so the hash join needs no
   * exchange. */
  def withMessages(
      graph: LinkGraph,
      c: Cut,
      payload: Seq[String],
      signal: Column,
      combine: Column => Column,
      saltBuckets: Int = 0): DataFrame = {
    val msgs = gather(
      graph, c.state.where(col("active")).select(("id" +: payload).map(col): _*),
      signal, combine, saltBuckets)
    c.state.join(msgs.hint("shuffle_hash"), Seq("id"), "left")
  }

  /** The end of a [[loop]]: the last state, its iteration number, and
   * the supersteps this call ran (0 when it resumed at its limit or
   * fixpoint). */
  final case class Looped(state: DataFrame, iterations: Int, supersteps: Int)

  /**
   * The shared superstep loop. The algorithm supplies `start` (the cold
   * state for `None`; for `Some(k)`, the state rebuilt from the rows
   * saved at iteration k, the newest checkpoint when `resume`) and
   * `step` (one superstep, returning its successor already cut). The
   * loop owns resume, the stop (`more = false` or `maxIterations`), the
   * free and the checkpoint cadence, as Gemini's engine owns checkpoint
   * dump and restore (core/graph.hpp:252-306).
   *
   * Free point: the superseded state is freed right after `step` has
   * cut its successor; the last state is the caller's.
   *
   * Save rule: iteration i is saved (`saved(state)`, with `count`) when
   * i % ckptEvery == 0 and the loop goes on, and the final iteration
   * once unless it is the one resumed from. So no iteration is written
   * twice, `ckptEvery = Int.MaxValue` means "final save only", and a
   * run resumed at its limit or fixpoint writes nothing.
   */
  def loop(
      name: String,
      maxIterations: Int,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 1,
      resume: Boolean = false)(
      start: Option[Int] => Cut,
      step: Cut => Cut,
      saved: DataFrame => DataFrame = identity): Looped = {
    val from = if (resume) ckpt.flatMap(_.latestIteration()) else None
    val first = from.getOrElse(0)
    var cut = start(from)
    var i = first
    while (cut.more && i < maxIterations) {
      val t0 = System.nanoTime()
      val next = step(cut)
      cut.state.graftFree()
      cut = next
      i += 1
      log(f"$name iter $i: count=${cut.count} ${(System.nanoTime() - t0) / 1e9}%.2f s")
      for (c <- ckpt if cut.more && i < maxIterations && i % ckptEvery == 0)
        c.save(saved(cut.state), i, cut.count)
    }
    if (!from.contains(i)) ckpt.foreach(_.save(saved(cut.state), i, cut.count))
    Looped(cut.state, i, i - first)
  }

  /** Default skew thresholds for [[autoSaltBuckets]]. Conservative:
   * salting pays an extra reduce stage per superstep, worth it only
   * when one hub's combined input exceeds a task even after map-side
   * partial aggregation (≥ ~10^6 in-edges). */
  val saltMinDegree: Long = 1000000L
  val saltSkewFactor: Double = 50.0

  /** Salt-bucket heuristic: salt when the worst hub's in-degree is both
   * skewed (≫ mean) and large in absolute terms. Reads the graph's
   * lazily computed degree statistics: no job after the first call on
   * a graph. */
  def autoSaltBuckets(
      graph: LinkGraph,
      minHubDegree: Long = saltMinDegree,
      skewFactor: Double = saltSkewFactor): Int = {
    val maxIn = graph.maxInDegree
    if (maxIn > minHubDegree && maxIn > skewFactor * graph.meanInDegree) 16 else 0
  }

  /** Resolve a caller-supplied salt setting: negative = auto. */
  def resolveSalt(graph: LinkGraph, saltBuckets: Int): Int =
    if (saltBuckets < 0) autoSaltBuckets(graph) else saltBuckets
}
