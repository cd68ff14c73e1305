package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.syntax._
import graft.{Checkpoint, LinkGraph, Superstep}

/**
 * PageRank with the reference's exact semantics
 * (/root/reference/toolkits/pagerank.cpp:26-129):
 *
 *  - init `curr[v] = 1/out_degree(v)` (1 if degree 0)  (:35-45)
 *  - per iteration: `raw[dst] = 1-d + d·Σ curr[src]` over in-edges
 *    (:53-84, d = 0.85 :24)
 *  - non-final iterations re-divide by out_degree and report
 *    `delta = Σ |next−curr|·out_degree / |V|` (:86-98); degree-0
 *    vertices keep the undivided value and contribute `|next−curr|`
 *  - the FINAL iteration leaves ranks undivided (:77-84); dangling
 *    mass is NOT redistributed (sum < |V| with sinks) — transcribed
 *    literally so the single-node oracle matches to 1e-6.
 *
 * `iterations > 0` = fixed-iteration parity mode (reference loop
 * :47); `iterations <= 0` = converge to `delta ≤ tol` (north rule),
 * same per-iteration math.
 *
 * All vertices are always active (pagerank.cpp:32-33) ⇒ every
 * superstep is a DENSE gather: co-partitioned state⋈edges join, only
 * combined messages shuffle. The state `(id, out_degree, v[, raw])`
 * carries the immutable out-degree, so a superstep is ONE left join
 * `state ⋈ sums` and one projection (new `v`, `raw`, the delta term)
 * into the lineage cut: one shuffle, and 2 Spark jobs with AQE on —
 * the message shuffle's map stage and the cut (the delta, the
 * Allreduce analogue, rides the cut). PageRankJobsSpec pins the count.
 * Checkpoints stay `(id, v)`; resume joins them to the degrees once.
 */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int, deltas: Seq[Double])

  def run(
      graph: LinkGraph,
      iterations: Int = 0,
      maxIterations: Int = 100,
      tol: Double = 1e-6,
      d: Double = 0.85,
      ckpt: Option[Checkpoint] = None,
      ckptEvery: Int = 5,
      resume: Boolean = false,
      saltBuckets: Int = -1): Result = {
    val degs = graph.degrees.select(col("id"), col("out_degree"))
    val fixed = iterations > 0
    val limit = if (fixed) iterations else maxIterations
    val salt = Superstep.resolveSalt(graph, saltBuckets)

    // Per-superstep math over the joined row (id, out_degree, v, msg);
    // `v` on the right-hand side is the previous iteration's value.
    val deg = col("out_degree")
    val raw = lit(1.0 - d) + lit(d) * coalesce(col("msg"), lit(0.0))
    val next = Seq(col("id"), deg, raw.as("raw"),
      when(deg > 0, raw / deg).otherwise(raw).as("v"))
    // the reference's delta term (pagerank.cpp:86-98)
    val dterm = when(deg > 0, abs(raw / deg - col("v")) * deg)
      .otherwise(abs(raw - col("v"))).as("dterm")

    // (id, out_degree, v) where v = rank/out_degree; after a superstep
    // also `raw` = the undivided rank (and `dterm` in convergence mode)
    val n = graph.numVertices
    val deltas = scala.collection.mutable.ArrayBuffer[Double]()
    val r = Superstep.loop("pr", limit, ckpt, ckptEvery, resume)(
      start = resumed => Superstep.Cut(resumed match {
        case Some(k) =>
          degs.join(ckpt.get.load(graph.spark, k), Seq("id"))
            .repartition(graph.numPartitions, col("id"))
            .graftCut
        case None =>
          degs.select(
            col("id"), col("out_degree"),
            when(col("out_degree") > 0, lit(1.0) / col("out_degree"))
              .otherwise(lit(1.0)).as("v"))
            .graftCut
      }, n, more = true),
      step = { c =>
        val sums = Superstep.gather(
          graph, c.state, signal = col("v"), combine = sum,
          saltBuckets = salt)
        // Unhinted, AQE sees the small message table at run time and
        // re-plans this join as a broadcast of `sums` — one more job per
        // superstep, and a |V|-row table through the driver at scale.
        // Both sides are clustered by id, so the hash join needs no
        // exchange.
        val joined = c.state.join(sums.hint("shuffle_hash"), Seq("id"), "left")
        // In fixed-iteration (parity) mode the per-iteration delta is
        // only reference REPORTING (pagerank.cpp:48-50) — skip its column
        // and its sum.
        if (fixed) Superstep.Cut(joined.select(next: _*).graftCut, n, more = true)
        else {
          val (s, dsum) = joined.select(next :+ dterm: _*).graftCutSum("dterm")
          deltas += dsum / n
          Superstep.Cut(s, n, more = !(deltas.last <= tol))
        }
      },
      saved = _.select(col("id"), col("v")))
    val ranks =
      if (r.supersteps > 0) r.state.select(col("id"), col("raw").as("rank"))
      else
        // resumed at the iteration limit: undo the division to recover
        // the reportable (undivided) rank — raw = v·out_degree (deg>0).
        r.state.select(col("id"), when(deg > 0, col("v") * deg).otherwise(col("v")).as("rank"))
    Result(ranks, r.iterations, deltas.toSeq)
  }
}
