package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Bpe, Dedup}

/**
 * Heavy-operator stress sweep at ScalingBench's synthetic scales.
 *
 * Purpose (round-5 verdict item 1): the 100× claims for the
 * non-headline operators rested on plan pins; this main measures the
 * heavy hitters — triangles, truss, coreness, bridges/2ecc, the LSH
 * dedup chain, BPE — on the SAME cached 52M-edge transcript graph the
 * executor-scaling evidence uses (and a deterministically synthesized
 * document corpus up to 100× the sf0.1 table), reporting per-operator
 * wall time and unit throughput. Run at two scales, the per-unit cost
 * ratio is the superlinearity check: ratio ≈ 1 ⇒ the operator's cost
 * is linear in its input, the property that survives the next 100×.
 *
 * Usage:
 *   runMain graft.StressBench <op[,op…]|all|graph|docs>
 *     [numConvs] [turnsPerConv] [numDocs] [cpus] [partsPerCore]
 *
 * One JSON line per op on stdout, also appended to stress_out.jsonl
 * (crash-safe: a hung op loses one line, not the sweep).
 */
object StressBench {

  /** Deterministic synthetic document corpus with the sf-table shape
   * (doc_id, text, lang, source, n_chars): 30-70 hash-drawn words per
   * doc over a 50k vocab; 10% exact duplicates (doc_id % 10 == 7
   * copies doc_id − 3) and 10% near-duplicates (doc_id % 10 == 9 =
   * doc_id − 4 plus one extra word) so the dedup chain has real work
   * at every scale. Seedless (pure hash of doc_id) — identical at any
   * parallelism, no RNG. */
  private[graft] def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    val base = when(pmod(col("doc_id"), lit(10L)) === 7L, col("doc_id") - 3L)
      .when(pmod(col("doc_id"), lit(10L)) === 9L, col("doc_id") - 4L)
      .otherwise(col("doc_id"))
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("bid", base)
      .withColumn("len", pmod(xxhash64(col("bid")), lit(41L)) + 30L)
      .withColumn("text0", expr(
        "array_join(transform(sequence(0L, len - 1L), " +
          "i -> concat('w', pmod(xxhash64(bid * 1000003L + i), 50000L))), ' ')"))
      .select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(10L)) === 9L, concat(col("text0"), lit(" zz")))
          .otherwise(col("text0")).as("text"),
        lit("en").as("lang"),
        concat(lit("s"), pmod(col("doc_id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Symmetrized LinkGraph from the cached directed edge table (the
   * undirected ops' input): union + swap, dedupe, clustered persists —
   * the fromKeyEdges tail without the dictionary build. */
  private def symGraph(spark: SparkSession, dir: String, parts: Int): LinkGraph = {
    val e = spark.read.parquet(s"$dir/edges")
    val sym = e
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy(col("src"), col("dst")).agg(min(col("weight")).as("weight"))
    val bySrc = sym
      .repartition(parts, col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numEdges = bySrc.count()
    // symmetric: the src-clustered rows, column-swapped, ARE the
    // dst-clustered layout
    val byDst = bySrc
      .select(col("dst").as("src"), col("src").as("dst"), col("weight"))
      .select(col("src"), col("dst"), col("weight"))
    val ids = spark.read.parquet(s"$dir/degrees").select(col("id"))
    val degrees = ids
      .join(bySrc.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"))
      .withColumn("in_degree", col("out_degree"))
      .repartition(parts, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val numVertices = degrees.count()
    val vertices = degrees.select(col("id"), col("id").cast("string").as("key"))
    LinkGraph(spark, vertices, bySrc, byDst, degrees,
      numVertices, numEdges, parts, symmetric = true)
  }

  private val graphOps = Seq(
    "pagerank5", "cc", "cc_star", "lp", "triangles", "coreness", "kcore3",
    "truss3", "trussness", "bridges", "twoecc")
  private val docOps = Seq(
    "exact_dedup", "minhash", "dedup_clusters", "bpe")

  def main(args: Array[String]): Unit = {
    val opsArg = args.headOption.getOrElse("all")
    val numConvs = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val turnsPerConv = args.lift(2).map(_.toInt).getOrElse(20)
    val numDocs = args.lift(3).map(_.toLong).getOrElse(500000L)
    val cpus = args.lift(4).map(_.toInt).getOrElse(32)
    val partsPerCore = args.lift(5).map(_.toInt).getOrElse(1)
    val ops: Seq[String] = opsArg match {
      case "all" => graphOps ++ docOps
      case "graph" => graphOps
      case "docs" => docOps
      case s => s.split(",").toSeq
    }
    val parts = cpus * partsPerCore

    val needGraph = ops.exists(graphOps.contains)
    val cacheDir =
      if (needGraph) ScalingBench.ensureCache(numConvs, turnsPerConv) else ""

    val builder = Bench.builder(s"local[$cpus]", "graft-stress", parts.toString)
    // GRAFT_LOCAL_DIR=/dev/shm/…: tmpfs shuffle, the ScalingBench
    // protocol (single shared disk is not the resource under test)
    val spark = sys.env.get("GRAFT_LOCAL_DIR")
      .fold(builder)(d => builder.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    lazy val gDir = ScalingBench.loadGraph(spark, cacheDir, parts)
    lazy val gSym = symGraph(spark, cacheDir, parts)
    lazy val docs = syntheticDocs(spark, numDocs)
      .repartition(parts, col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val sc = spark.sparkContext
    def isolated[T](f: => T): T = {
      val before = sc.getPersistentRDDs.keySet
      try f
      finally {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false)
        }
        System.gc()
      }
    }

    def emit(line: String): Unit = {
      println(line)
      Bench.writing("stress_out.jsonl")(java.nio.file.Files.write(
        java.nio.file.Paths.get("stress_out.jsonl"), (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND))
    }

    def cell(op: String, units: Long, unitName: String)(f: => Long): Unit = {
      System.err.println(s"[stress] $op ...")
      val t0 = System.nanoTime()
      val rows = isolated(f)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stress] $op done in $s%.1f s ($rows rows)")
      emit(f"""{"stress":"$op","sec":$s%.2f,"rows":$rows,"$unitName":$units,"${unitName}_per_sec":${units / s}%.0f,"cpus":$cpus,"conv_scale":"${numConvs}x$turnsPerConv","num_docs":$numDocs}""")
    }

    // The corpus is materialised before the op loop, outside every
    // cell: a cell that built it would time it, and that cell's
    // isolated{} would unpersist it under every later doc cell.
    if (ops.exists(docOps.contains)) docs.count()

    ops.foreach {
      case op @ "pagerank5" =>
        cell(op, gDir.numEdges * 5, "edges")(
          algos.PageRank.run(gDir, iterations = 5).ranks.count())
      case op @ "cc" =>
        cell(op, gSym.numEdges, "edges")(algos.ConnectedComponents.run(gSym).labels.count())
      case op @ "cc_star" =>
        cell(op, gSym.numEdges, "edges")(algos.CCStar.run(gSym).labels.count())
      case op @ "lp" =>
        cell(op, gSym.numEdges, "edges")(algos.LabelPropagation.run(gSym).labels.count())
      case op @ "triangles" =>
        cell(op, gSym.numEdges, "edges") { algos.TriangleCount.count(gSym); gSym.numEdges }
      case op @ "coreness" =>
        cell(op, gSym.numEdges, "edges")(algos.KCore.coreness(gSym).count())
      case op @ "kcore3" =>
        cell(op, gSym.numEdges, "edges")(algos.KCore.run(gSym, k = 3).core.count())
      case op @ "truss3" =>
        cell(op, gSym.numEdges, "edges")(algos.Truss.run(gSym, k = 3).edges.count())
      case op @ "trussness" =>
        cell(op, gSym.numEdges, "edges")(algos.Truss.trussness(gSym).count())
      case op @ "bridges" =>
        cell(op, gSym.numEdges, "edges")(algos.Bridges.run(gSym).bridges.count())
      case op @ "twoecc" =>
        cell(op, gSym.numEdges, "edges")(algos.Bridges.blocks(gSym).count())
      case op @ "exact_dedup" =>
        cell(op, numDocs, "docs")(Dedup.exact(docs).count())
      case op @ "minhash" =>
        cell(op, numDocs, "docs")(Dedup.minhashPairs(docs).count())
      case op @ "dedup_clusters" =>
        cell(op, numDocs, "docs")(Dedup.clusters(docs, numPartitions = parts).count())
      case op @ "bpe" =>
        cell(op, numDocs, "docs")(Bpe.train(docs, rounds = 6).count())
      case other =>
        System.err.println(s"[stress] unknown op: $other (known: ${(graphOps ++ docOps).mkString(",")})")
    }
    spark.stop()
  }
}
