package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-superstep vertex-state checkpointing with lineage metadata —
 * the Spark analogue of the reference's `dump_vertex_array` /
 * `restore_vertex_array` (core/graph.hpp:252-306), where every
 * partition writes exactly its owned slice.
 *
 * Layout: `<dir>/iter=<K>/` parquet (partition files = owned slices)
 * plus `<dir>/iter=<K>/_lineage.json` carrying
 * `{iteration, active_count, num_rows, partition_hashes}` — the
 * north rule's lineage record. `partition_hashes` is one order-
 * independent 64-bit digest per hash-bucket of `id`, so a resumed
 * run can assert bit-level state equality bucket-by-bucket without
 * collecting the state.
 *
 * Doubles as the iterative-lineage cut (SURVEY.md §7.4.1): a loop
 * that resumes from `load()` reads a flat parquet scan, not a
 * K-deep Catalyst tree. Directory layout is Iceberg-style
 * (snapshot-per-iteration + metadata sidecar); a real Iceberg catalog
 * can slot in behind this object unchanged (SURVEY.md §7.0 — no
 * Iceberg runtime jar ships in this sandbox).
 */
final case class Checkpoint(dir: String, buckets: Int = 32) {

  private def iterDir(iter: Int) = s"$dir/iter=$iter"

  /** Write state (must contain an `id` column) + lineage sidecar. */
  def save(state: DataFrame, iteration: Int, activeCount: Long): Unit = {
    val path = iterDir(iteration)
    state.write.mode("overwrite").parquet(path)
    val saved = state.sparkSession.read.parquet(path)
    // order-independent digest; the sum runs in decimal(38,0) — a
    // long sum of xxhash64 values overflows (ANSI abort) once a bucket
    // holds enough rows (latent until round 3's edge-set checkpoints,
    // whose buckets carry many rows per id)
    val hashes = saved
      .groupBy(pmod(col("id"), lit(buckets.toLong)).as("bucket"))
      .agg(sum(xxhash64(saved.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toBigInteger.toString))
      .sortBy(_._1)
    val numRows = saved.count()
    val hashJson = hashes.map { case (b, h) => s"""{"bucket":$b,"hash":$h}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"iteration":$iteration,"active_count":$activeCount,"num_rows":$numRows,"partition_hashes":$hashJson}"""
    Files.writeString(Paths.get(path, "_lineage.json"), json)
  }

  /** Latest checkpointed iteration, if any. */
  def latestIteration(): Option[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    val listing = Files.list(d)
    val names =
      try listing.toArray.toSeq.map(_.toString)
      finally listing.close() // Files.list leaks a dir handle if unclosed
    val iters = names
      .filter(_.matches(".*/iter=\\d+$"))
      .map(p => p.substring(p.lastIndexOf('=') + 1).toInt)
      .filter(i => Files.exists(Paths.get(iterDir(i), "_lineage.json")))
    if (iters.isEmpty) None else Some(iters.max)
  }

  def load(spark: SparkSession, iteration: Int): DataFrame =
    spark.read.parquet(iterDir(iteration))

  def lineage(iteration: Int): String =
    Files.readString(Paths.get(iterDir(iteration), "_lineage.json"))

  /** The `active_count` recorded with an iteration: 0 means the state
   * was saved at its fixpoint. */
  def activeCount(iteration: Int): Long =
    """"active_count":(\d+)""".r.findFirstMatchIn(lineage(iteration))
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"no active_count in ${iterDir(iteration)}/_lineage.json"))
}
