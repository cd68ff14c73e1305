package graft

import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

/**
 * Partition-balance audit: compares hash partitioning of the edge
 * table against degree-aware range bucketing (BucketedLayout, the
 * reference's α·|V_p|+|E_p| chunking analog — core/graph.hpp:823-846)
 * on the skewed tool graph, printing per-partition edge-count
 * histograms. Evidence for BASELINE.md.
 *
 * Usage: runMain graft.PartitionAudit [sfDir] [numBuckets]
 */
object PartitionAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val nb = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = Bench.session("8")
    spark.sparkContext.setLogLevel("WARN")

    def stats(xs: Seq[Long]): String = {
      val n = xs.size
      val mx = xs.max; val mn = xs.min
      val mean = xs.sum.toDouble / n
      f"n=$n min=$mn max=$mx mean=$mean%.0f max/mean=${mx / mean}%.2f"
    }

    def audit(label: String, g: LinkGraph, alpha: Double): Unit = {
      // hash partitioning of src (what repartition(n, col) does)
      val hashHist = g.edgesBySrc
        .groupBy(pmod(org.apache.spark.sql.functions.hash(col("src")), lit(nb)).as("p"))
        .agg(count(lit(1)).as("edges"))
        .collect().map(_.getLong(1)).toSeq
      val buckets = BucketedLayout.assignBuckets(g.degrees, nb, alpha = alpha)
      val ranged = BucketedLayout.histogram(buckets, g.edgesBySrc)
        .collect().map(_.getAs[Long]("edges")).toSeq
      println(s"[$label] |V|=${g.numVertices} |E|=${g.numEdges} buckets=$nb alpha=$alpha")
      println(s"[$label] hash(src) edges          : ${stats(hashHist)}")
      println(s"[$label] degree-ranged edges      : ${stats(ranged)}")
      buckets.unpersist()
    }

    for (symmetric <- Seq(false, true)) {
      val g = Graphs.get(spark, sfDir, symmetric)
      // α=0: pure edge balance — this graph is edge-sparse (|E|/|V|≈2.7),
      // so the reference α would let the vertex term dominate the cost
      audit(if (symmetric) "events-sym" else "events-dir", g, alpha = 0.0)
    }

    // hub-skewed synthetic: few tools → 4 hub vertices carrying ~17% of
    // all edges each; the case hash partitioning cannot balance
    val tr = graft.sources.Transcripts.synthetic(
      spark, numConvs = 20000, turnsPerConv = 10, numTools = 4, toolEvery = 3)
    val skew = LinkGraph.fromKeyEdges(
      graft.sources.EdgeBuilder.keyEdges(tr), symmetric = true, 8)
    audit("skewed-synth", skew, alpha = 0.0)
    spark.stop()
  }
}
