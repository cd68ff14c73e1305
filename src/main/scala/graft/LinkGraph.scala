package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.VertexDict
import graft.syntax._

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

  /** max in-degree, mean in-degree — one aggregation job per graph,
   * on first use. */
  private lazy val degreeStats: Row =
    degrees.agg(max(col("in_degree")), avg(col("in_degree"))).first()

  /** Largest and mean in-degree — the hub-skew statistic behind
   * [[Superstep.autoSaltBuckets]]. */
  lazy val maxInDegree: Long = degreeStats.getLong(0)
  lazy val meanInDegree: Double = degreeStats.getDouble(1)

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
   * dictionary is deterministic on the (same) key set. The same tail
   * as [[LinkGraph.fromKeyEdges]]: one exchange for the edges, none for
   * the degrees (the vertices and the new edges are both clustered by
   * id), and one persist fill and count each — 5 Spark jobs, pinned by
   * GraphBuildJobsSpec. */
  def symmetrize: LinkGraph = {
    require(!symmetric, "already symmetric")
    val (esym, nE) = LinkGraph.clusterEdges(
      edgesBySrc.unionByName(LinkGraph.swapped(edgesBySrc)), numPartitions)
    LinkGraph(spark, vertices, esym, LinkGraph.swapped(esym),
      LinkGraph.degreesOf(vertices, esym, symmetric = true, numPartitions),
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
   *
   * Each piece of work runs once. The key edges are cut once and feed
   * both the dictionary and the two key→id joins; the dictionary's cut
   * also returns its bucket sizes, whose sum is |V|; the edges and the
   * degrees each take one exchange, and the jobs that fill their
   * persists also count them. A directed build from transcripts runs
   * 18 Spark jobs, pinned by GraphBuildJobsSpec.
   *
   * The two cuts are not freed: Spark may re-execute a persisted
   * table's plan instead of reading its cache (a `symmetrize` at one
   * partition re-reads the key-edge cut), and a graph made by
   * [[LinkGraph.symmetrize]] shares `vertices`, so unpersisting it must
   * leave the dictionary recomputable. The ContextCleaner frees both
   * once the graph is unreachable.
   */
  def fromKeyEdges(
      keyEdges: DataFrame,
      symmetric: Boolean,
      numPartitions: Int): LinkGraph = {
    val keyed = keyEdges.select(col("src_key"), col("dst_key"), col("weight")).graftCut
    val (ids, numVertices) = VertexDict.assign(keyed, numPartitions)
    val dict = ids.repartition(numPartitions, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val srcDict = dict.select(col("key").as("src_key"), col("id").as("src"))
    val dstDict = dict.select(col("key").as("dst_key"), col("id").as("dst"))
    val e0 = keyed
      .join(srcDict, "src_key")
      .join(dstDict, "dst_key")
      .select(col("src"), col("dst"), col("weight").cast("double").as("weight"))
    finishBuild(dict, numVertices, e0, symmetric, numPartitions)
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
    finishBuild(dict, numVertices, e0, symmetric, numPartitions)
  }

  /** Shared build tail: symmetrize/dedup/self-loop-drop, dual
   * clustered layouts, degree table. The dictionary `dict` is
   * materialised by the jobs that read it. */
  private def finishBuild(
      dict: DataFrame,
      numVertices: Long,
      e0: DataFrame,
      symmetric: Boolean,
      numPartitions: Int): LinkGraph = {
    val e1 =
      if (symmetric) e0.unionByName(swapped(e0))
      else e0
    val (edgesBySrc, numEdges) = clusterEdges(e1, numPartitions)

    // Symmetric: the src-clustered rows, column-swapped, ARE the
    // dst-clustered layout (edge set is its own transpose). Directed:
    // one exchange of the built edges on first use.
    val edgesByDst =
      if (symmetric) swapped(edgesBySrc)
      else
        edgesBySrc.repartition(numPartitions, col("dst"))
          .sortWithinPartitions("dst", "src")
          .persist(StorageLevel.MEMORY_AND_DISK)

    LinkGraph(e0.sparkSession, dict, edgesBySrc, edgesByDst,
      degreesOf(dict, edgesBySrc, symmetric, numPartitions),
      numVertices, numEdges, numPartitions, symmetric)
  }

  private def swapped(e: DataFrame): DataFrame =
    e.select(col("dst").as("src"), col("src").as("dst"), col("weight"))

  /** Drop self-loops, dedup to the least weight per (src, dst), and
   * persist clustered by src and sorted — one exchange, since the
   * dedup's grouping reuses the src partitioning. Returns the table and
   * its row count. */
  private def clusterEdges(e: DataFrame, numPartitions: Int): (DataFrame, Long) = {
    val bySrc = e
      .where(col("src") =!= col("dst"))
      .repartition(numPartitions, col("src"))
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight"))
      .sortWithinPartitions("src", "dst")
    persistCounted(bySrc)
  }

  /** (id, out_degree, in_degree) for every vertex of `vertices`,
   * clustered by id, persisted and materialised: one exchange of the
   * rows (id, 0, 0) per vertex, (src, 1, 0) and (dst, 0, 1) per edge,
   * summed per id. A symmetric graph's in-degree is its out-degree. */
  private def degreesOf(
      vertices: DataFrame,
      edgesBySrc: DataFrame,
      symmetric: Boolean,
      numPartitions: Int): DataFrame = {
    def rows(from: DataFrame, id: String, out: Long, in: Long) = {
      // the self-loop filter drops null ends, but a nullable input column
      // would still make the degree table's id nullable
      val c = if (from.schema(id).nullable) coalesce(col(id), lit(-1L)) else col(id)
      from.select(c.as("id"), lit(out).as("o"), lit(in).as("i"))
    }
    val ends = rows(edgesBySrc, "src", 1, 0)
    val all = rows(vertices, "id", 0, 0).unionByName(
      if (symmetric) ends else ends.unionByName(rows(edgesBySrc, "dst", 0, 1)))
    val out = coalesce(sum(col("o")), lit(0L))
    val degrees = all
      .repartition(numPartitions, col("id"))
      .groupBy(col("id"))
      .agg(out.as("out_degree"),
        (if (symmetric) out else coalesce(sum(col("i")), lit(0L))).as("in_degree"))
    persistCounted(degrees)._1
  }

  /** Persist `df`, fill it and count its rows: two jobs, a fill and a
   * count over the cached rows, where `Dataset.count` runs three (the
   * fill, then its own exchange and result stages). */
  private def persistCounted(df: DataFrame): (DataFrame, Long) = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    (df, df.queryExecution.toRdd.count())
  }
}
