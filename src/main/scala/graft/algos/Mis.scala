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
 * (priorities are md5-uniform).
 *
 * Priorities hash the string KEY (first 60 bits of md5, identical to
 * the DuckDB oracle's `('0x'||substr(md5(key),1,15))::BIGINT`), so
 * the selected set is independent of the engine's id assignment.
 *
 * No reference counterpart (a classic vertex-centric algorithm the
 * reference's process_edges could express but its toolkits don't);
 * the signal/slot shape reuses [[Superstep.gather]] with a
 * struct-valued min combiner.
 *
 * The resident state on [[Superstep.loop]] is one row per undecided or
 * member vertex, `(id, key, pri, round, active)`: round = -1 and
 * active for the undecided, else the 1-based selection round.
 * Dropped-out vertices lose their row. Each round is one lineage cut
 * of that state; the checkpoint is its `(id, round)` projection, so
 * at convergence it holds the members only. A resume re-derives
 * `(key, pri)` from the vertex dict (pri is a pure function of key).
 * The winners are cut before the losers' gather reads them: a plan
 * that read them twice would run the neighbor-minimum gather twice,
 * since Spark reuses no exchange across the two copies of a cut state
 * that a self-join plans. So a round is 4 Spark jobs (measured on a
 * 600-vertex path): each gather's message shuffle map stage and the
 * two cuts.
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
    var round = 0
    val r = Superstep.loop("mis", maxRounds, ckpt, ckptEvery, resume)(
      start = { resumed =>
        round = resumed.getOrElse(0)
        val rows = resumed match {
          case Some(k) => withPri(graph.vertices).join(ckpt.get.load(graph.spark, k), "id")
          case None => withPri(graph.vertices).withColumn("round", lit(-1))
        }
        Superstep.cutActive(rows.withColumn("active", col("round") === -1)
          .repartition(graph.numPartitions, col("id")))
      },
      step = { c =>
        round += 1
        // min (pri, key) over UNDECIDED neighbors (struct min = lexicographic)
        val winners = Superstep.withMessages(graph, c.state, Seq("key", "pri"),
            signal = struct(col("pri").as("p"), col("key").as("k")), combine = min)
          .where(col("active") && (col("msg").isNull ||
            struct(col("pri").as("p"), col("key").as("k")) < col("msg")))
          .select(col("id"), lit(true).as("won"))
          .graftCut
        // neighbors of winners drop out
        val losers = Superstep.gather(graph, winners.select(col("id")), signal = lit(1), combine = min)
        val next = Superstep.cutActive(c.state
          .join(winners.hint("shuffle_hash"), Seq("id"), "left")
          .join(losers.hint("shuffle_hash"), Seq("id"), "left")
          .where(col("msg").isNull)
          .select(col("id"), col("key"), col("pri"),
            when(col("won"), lit(round)).otherwise(col("round")).as("round"),
            (col("active") && col("won").isNull).as("active")))
        winners.graftFree()
        next
      },
      saved = _.select(col("id"), col("round")))
    val (mis, size) = r.state.where(col("round") >= 0).select(col("id"), col("round")).graftCutCount
    r.state.graftFree()
    Result(mis, r.iterations, size)
  }
}
