package graft.sources

import org.apache.spark.sql.{DataFrame, GraftLineage}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic dense Long vertex ids `0..|V|-1` from string keys,
 * with NO global sort (reference analogue: dense `VertexId` space,
 * /root/reference/core/type.hpp:24).
 *
 * Two-phase distributed assignment:
 *   1. hash-bucket the distinct keys (`pmod(xxhash64(key), B)`), rank
 *      within each bucket by key (window partitioned by bucket — a
 *      per-bucket sort, never a global one), and cut the ranked rows;
 *      the cut's one job also returns the B bucket sizes;
 *   2. prefix-sum the sizes on the driver (B ≈ shuffle parallelism,
 *      tiny), broadcast-join the offsets back.
 *
 * Deterministic: same keys ⇒ same ids, at any parallelism. At
 * 100 TB the per-bucket sort is the only cost and B scales with the
 * cluster; the driver only ever sees B integers.
 */
object VertexDict {

  /** @param keyEdges (src_key, dst_key, ...) — returns (id: long, key: string). */
  def build(keyEdges: DataFrame, numBuckets: Int): DataFrame = assign(keyEdges, numBuckets)._1

  /** [[build]], plus |V|: the sum of the bucket sizes. */
  private[graft] def assign(keyEdges: DataFrame, numBuckets: Int): (DataFrame, Long) = {
    val spark = keyEdges.sparkSession
    val keys = keyEdges.select(col("src_key").as("key"))
      .unionByName(keyEdges.select(col("dst_key").as("key")))
      .distinct()
    val bucketed = keys.withColumn(
      "b", pmod(xxhash64(col("key")), lit(numBuckets.toLong)).cast("int"))
    val (ranked, sizes) = GraftLineage.cutBucketSizes(
      bucketed.withColumn("r", row_number().over(Window.partitionBy(col("b")).orderBy(col("key")))),
      "b", numBuckets)
    val offsets = sizes.scanLeft(0L)(_ + _) // offsets(b) = keys in buckets < b
    val offDf = spark.createDataFrame(offsets.init.zipWithIndex.map(_.swap).toSeq).toDF("b", "off")
    val dict = ranked
      .join(broadcast(offDf), "b")
      .select((col("off") + col("r") - 1).as("id"), col("key"))
    (dict, offsets.last)
  }
}
