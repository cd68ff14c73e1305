package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.VertexDict

/**
 * The engine's graph container — the Spark-first analogue of the
 * reference's `Graph<EdgeData>` with its dual CSR/CSC layouts
 * (/root/reference/core/graph.hpp:119-124, built :925-1240).
 *
 * Gemini materializes the edge set twice, clustered by dst (CSR, push
 * side) and by src (CSC, pull side), so that neither direction of a
 * superstep ever re-shuffles edges. The relational equivalent:
 *
 *  - [[edgesBySrc]] — `(src, dst, weight)` hash-partitioned by `src`,
 *    sorted within partitions. Every gather step joins vertex state
 *    to this table on `src`; since state is hash-partitioned by `id`
 *    with the same partition count, the join is co-partitioned and
 *    the (large) edge side NEVER moves — neither shuffled nor
 *    broadcast (PlanSpec's "dense gather under production broadcast
 *    thresholds" test asserts it on the executed plan). Only the
 *    partially-aggregated messages shuffle — exactly Gemini's
 *    mirror-side combining (core/graph.hpp:1747-1799).
 *  - [[edgesByDst]] — the same rows clustered by `dst`, for
 *    reverse-direction gathers (e.g. betweenness backward phase =
 *    `transpose()`, core/graph.hpp:758-768). For symmetric graphs it
 *    is a zero-cost column-swapped VIEW of `edgesBySrc`, mirroring
 *    Gemini's `incoming_* = outgoing_*` aliasing
 *    (core/graph.hpp:732-737).
 *
 * At cluster scale the two persists become two bucketed/sorted table
 * writes (`bucketBy(n,"src")` / `("dst")`); the in-memory persist here
 * is the local[] stand-in with identical partitioning semantics.
 */
final case class LinkGraph(
    spark: SparkSession,
    vertices: DataFrame, // (id: long, key: string)
    edgesBySrc: DataFrame, // (src, dst, weight) clustered by src
    edgesByDst: DataFrame, // (src, dst, weight) clustered by dst
    degrees: DataFrame, // (id, out_degree, in_degree) clustered by id
    numVertices: Long,
    numEdges: Long,
    numPartitions: Int,
    symmetric: Boolean) {

  /** max out-degree, max in-degree, mean in-degree — one aggregation
   * job per graph, on first use. */
  private lazy val degreeStats: Row =
    degrees.agg(max(col("out_degree")), max(col("in_degree")), avg(col("in_degree"))).first()

  /** Largest out-degree — bounds a frontier's edge mass without a
   * per-superstep aggregation job. */
  lazy val maxOutDegree: Long = degreeStats.getLong(0)

  /** Largest and mean in-degree — the hub-skew statistic behind
   * [[Superstep.autoSaltBuckets]]. */
  lazy val maxInDegree: Long = degreeStats.getLong(1)
  lazy val meanInDegree: Double = degreeStats.getDouble(2)

  /** Reverse every edge in O(1) — the reference's `transpose()`
   * (core/graph.hpp:758-768): swap the two clustered layouts. */
  def transpose: LinkGraph = copy(
    edgesBySrc = edgesByDst.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")),
    edgesByDst = edgesBySrc.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")),
    degrees = degrees.select(
      col("id"), col("in_degree").as("out_degree"), col("out_degree").as("in_degree")))

  def unpersist(): Unit = {
    vertices.unpersist(); edgesBySrc.unpersist(); degrees.unpersist()
    if (!symmetric) edgesByDst.unpersist()
  }

  /** Symmetrized graph SHARING this graph's vertex dictionary and
   * id-encoded edges — skips the dictionary build and the two big
   * key→id joins that a from-scratch symmetric build pays (the
   * reference likewise symmetrizes during load by sending each edge
   * twice, core/graph.hpp:572-587, not by re-reading). Identical
   * output to `fromKeyEdges(keyEdges, symmetric = true, n)`: the
   * dictionary is deterministic on the (same) key set. */
  def symmetrize: LinkGraph = {
    require(!symmetric, "already symmetric")
    val e1 = edgesBySrc.unionByName(
      edgesBySrc.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val edges = e1
      .where(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight"))
    val esym = edges
      .repartition(numPartitions, col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nE = esym.count()
    val eByDst = esym
      .select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      .select(col("src"), col("dst"), col("weight"))
    val outD = esym.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val degs = vertices.select(col("id"))
      .join(outD, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("out_degree"), lit(0L)).as("in_degree"))
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    degs.count()
    LinkGraph(spark, vertices, esym, eByDst, degs,
      numVertices, nE, numPartitions, symmetric = true)
  }
}

object LinkGraph {

  /**
   * Build from a string-keyed edge table. Pipeline ≈ the reference
   * loaders (`load_directed` core/graph.hpp:771-1338,
   * `load_undirected_from_directed` :349-756): id-encode endpoints,
   * optionally symmetrize (union with swapped endpoints, :572-587),
   * dedup + drop self-loops, count degrees, persist dual layouts.
   */
  def fromKeyEdges(
      keyEdges: DataFrame,
      symmetric: Boolean,
      numPartitions: Int): LinkGraph = {
    val dict = VertexDict.build(keyEdges, numPartitions)
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val srcDict = dict.select(col("key").as("src_key"), col("id").as("src"))
    val dstDict = dict.select(col("key").as("dst_key"), col("id").as("dst"))
    val e0 = keyEdges
      .join(srcDict, "src_key")
      .join(dstDict, "dst_key")
      .select(col("src"), col("dst"), col("weight").cast("double").as("weight"))
    finishBuild(dict, e0, symmetric, numPartitions)
  }

  /**
   * Build from ALREADY id-encoded edges with dense ids `0..|V|-1` —
   * the reference's own input contract (`|V|` passed on the CLI,
   * never inferred: README.md:25, toolkits/pagerank.cpp:141). Skips
   * the vertex dictionary and its two key→id joins; synthetic keys
   * `v<id>` keep the reporting surface uniform.
   */
  def fromIdEdges(
      edges: DataFrame, // (src: long, dst: long[, weight: double])
      numVertices: Long,
      symmetric: Boolean,
      numPartitions: Int): LinkGraph = {
    val spark = edges.sparkSession
    val dict = spark.range(numVertices)
      .select(col("id"), concat(lit("v"), col("id")).as("key"))
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e0 =
      (if (edges.columns.contains("weight")) edges
       else edges.withColumn("weight", lit(1.0)))
        .select(col("src").cast("long"), col("dst").cast("long"),
          col("weight").cast("double").as("weight"))
    finishBuild(dict, e0, symmetric, numPartitions)
  }

  /** Shared build tail: symmetrize/dedup/self-loop-drop, dual
   * clustered persists, degree table. */
  private def finishBuild(
      dict: DataFrame,
      e0: DataFrame,
      symmetric: Boolean,
      numPartitions: Int): LinkGraph = {
    val spark = e0.sparkSession
    val e1 =
      if (symmetric)
        e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      else e0
    val edges = e1
      .where(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight"))

    val edgesBySrc = edges
      .repartition(numPartitions, col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numEdges = edgesBySrc.count()

    // Symmetric: the src-clustered rows, column-swapped, ARE the
    // dst-clustered layout (edge set is its own transpose).
    val edgesByDst =
      if (symmetric)
        edgesBySrc.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
          .select(col("src"), col("dst"), col("weight"))
      else
        edges.repartition(numPartitions, col("dst"))
          .sortWithinPartitions("dst", "src")
          .persist(StorageLevel.MEMORY_AND_DISK)

    val outD = edgesBySrc.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val inD = edgesBySrc.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    val degrees = dict.select(col("id"))
      .join(outD, Seq("id"), "left")
      .join(inD, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numVertices = dict.count()
    degrees.count() // materialize

    LinkGraph(spark, dict, edgesBySrc, edgesByDst, degrees,
      numVertices, numEdges, numPartitions, symmetric)
  }
}
