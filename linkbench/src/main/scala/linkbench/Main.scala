package linkbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftLineage, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Checkpoint, LinkGraph, Superstep}
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.sources.EdgeBuilder

/**
 * One workload: the shape of its generated input and what its loop runs.
 *
 * @param prFixedIters > 0: PageRank in the reference's fixed-iteration
 *                     parity mode; 0: PageRank to delta ≤ 1e-6
 */
final case class Workload(name: String, shape: Shape, prFixedIters: Int)

object Workloads {
  val all: Seq[Workload] = Seq(
    // Thousands of small components whose diameter is the conversation
    // length: the fixed cost of each superstep dominates every algorithm.
    Workload("chains-small", Shape("chains", 1500, 5, 0.35, 4), prFixedIters = 0),
    // Log-uniform tool popularity makes hub vertices in one giant
    // component: task compute, shuffle volume and reduce-side skew weigh
    // far more than on chains.
    Workload("hubs-large", Shape("hubs", 3000, 3, 0.85, 50), prFixedIters = 6))
}

/** Every engine call and every check is one operation. A call that
 * throws, or a check that fails or throws, is a failed operation, and a
 * failed call's time is never recorded. */
final class Ops(tracer: Option[Tracer]) {
  var attempted = 0
  var failed = 0

  def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

  def call[T](name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span(name)(f)
      val sec = (System.nanoTime() - t0) / 1e9
      Main.log(f"$name: $sec%.3f s")
      Some((r, sec))
    } catch {
      case NonFatal(e) =>
        failed += 1
        Main.log(s"FAILED op $name: $e")
        None
    }
  }

  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed =
      try ok
      catch { case NonFatal(e) => Main.log(s"check $name threw: $e"); false }
    if (!passed) { failed += 1; Main.log(s"FAILED check $name") }
    passed
  }
}

final class Run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: Path,
    meta: Map[String, String]) {
  import Run._

  private val cpus = math.min(Runtime.getRuntime.availableProcessors(), 4)
  private val runId = s"${w.name}-s$seed-${System.currentTimeMillis()}"
  private val tracer = if (traced) Some(new Tracer(runId)) else None
  private val ops = new Ops(tracer)
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val interruptDir = work.resolve(s"ckpt/$runId/pagerank")
  private val interruptCkpt = Checkpoint(interruptDir.toString)
  private var spark: SparkSession = _

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += v
  private def med(k: String): Double = Stats.median(samples.getOrElse(k, Nil).toSeq)

  private def restart(n: Int): Unit = {
    tracer.foreach(_.drain())
    if (spark != null) spark.stop()
    spark = Bench.session(n.toString)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.attach(spark))
    Main.log(s"session local[$n] started")
  }

  /** Session start plus transcripts parquet → materialised directed and
   * symmetric graphs. */
  private def setup(n: Int, tx: String): (LinkGraph, LinkGraph) = {
    restart(n)
    val keyEdges = EdgeBuilder.keyEdges(spark.read.parquet(tx))
    val g = ops.span("LinkGraph.fromKeyEdges")(
      LinkGraph.fromKeyEdges(keyEdges, symmetric = false, numPartitions = n))
    val s = ops.span("LinkGraph.symmetrize")(g.symmetrize)
    (g, s)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def execute(): Unit = {
    // ---- input: generated and cached before any timing ----
    restart(cpus)
    val (rows, gen) = Gen.generate(w.shape, seed)
    val tx = work.resolve(s"data/${w.name}-${gen.digest.take(16)}/transcripts.parquet").toString
    ops.check("Gen.deterministic")(Gen.generate(w.shape, seed)._2 == gen)
    ops.check("Gen.seed_changes_table") {
      val other = Gen.generate(w.shape, seed + 1)._2
      other.digest != gen.digest && math.abs(other.rows - gen.rows) <= gen.rows / 10 &&
        other.maxConvLen <= w.shape.maxLen
    }
    if (!Files.exists(Paths.get(tx, "_SUCCESS")))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, cpus), Gen.schema)
        .write.mode("overwrite").parquet(tx)
    val oracle = GraphOracle.of(rows)
    Main.log("input ready")

    // ---- two set-ups before the loop: the first is cold, and after the
    // second a short warm-up pass moves JIT compilation and first-use code
    // generation out of the loop ----
    def setupRound(): Option[(LinkGraph, LinkGraph)] =
      ops.call("setup")(setup(cpus, tx)).map { case (gs, sec) => sample("setup_s", sec); gs }
    var graphs = setupRound()
    graphs.foreach { case (g, s) =>
      ops.check("LinkGraph_sizes_equal_oracle")(
        g.numVertices == oracle.vertices && g.numEdges == oracle.directedEdges &&
          s.numEdges == oracle.symmetricEdges)
    }
    if (graphs.nonEmpty) graphs = setupRound()
    graphs.foreach { case (g, s) => warmUp(g, s) }

    // ---- the closed loop: one driver thread; each round sets up a fresh
    // session and runs the algorithms in sequence. A round starts only if
    // the previous one would still fit in --seconds (there is always one),
    // so set-up is measured at least three times.
    val start = System.nanoTime()
    var rounds = 0
    var last = 0.0
    while (graphs.nonEmpty &&
        (rounds < MinRounds || (System.nanoTime() - start) / 1e9 + last <= seconds)) {
      val t0 = System.nanoTime()
      graphs = setupRound()
      graphs.foreach { case (g, s) =>
        System.gc()
        sample("graph_heap_mb", liveHeapMb())
        runCycle(g, s, oracle)
      }
      last = (System.nanoTime() - t0) / 1e9
      rounds += 1
    }
    sample("rounds", rounds)

    if (traced) graphs.foreach { case (g, s) =>
      probeLayers(g, s, tx)
      layerShape(g)
      // the same PageRank on one core: N→4N scaling efficiency
      for (((g1, _), _) <- ops.call("setup.local1")(setup(1, tx)))
        ops.call("PageRank.run.local1")(
          PageRank.run(g1, iterations = w.prFixedIters, maxIterations = MaxIters, tol = Tol))
          .foreach { case (r, sec) =>
            ops.check("PageRank.iters_same_on_one_core")(r.iterations == med("PageRank.iters"))
            sample("PageRank.scale_eff",
              med("pr_eps_iter") / (g1.numEdges.toDouble * r.iterations / sec) / cpus)
          }
    }

    deleteTree(work.resolve(s"ckpt/$runId"))
    val rssMb = rssHighWaterMb()
    tracer.foreach(_.drain())
    tracer.foreach { t =>
      val f = work.resolve(s"trace/$runId.spans.jsonl")
      Files.createDirectories(f.getParent)
      Files.writeString(f, t.jsonl)
      Main.log(s"spans: $f")
    }

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (med("setup_s"), "s"),
      "pr_eps_iter" -> (med("pr_eps_iter"), "edges/s"),
      "cc_s" -> (med("cc_s"), "s"),
      "resume_s" -> (med("resume_s"), "s"),
      "graph_heap_mb" -> (med("graph_heap_mb"), "MiB"))
    val metrics = if (traced) layerMetrics() else e2e

    val shape = Seq(
      "rows" -> gen.rows.toDouble, "convs" -> gen.convs.toDouble,
      "max_conv_len" -> gen.maxConvLen.toDouble, "max_tool_in_degree" -> gen.maxToolInDegree.toDouble,
      "tools" -> gen.distinctTools.toDouble, "vertices" -> oracle.vertices.toDouble,
      "edges_directed" -> oracle.directedEdges.toDouble,
      "edges_symmetric" -> oracle.symmetricEdges.toDouble,
      "components" -> oracle.components.toDouble, "triangles" -> oracle.triangles.toDouble)
    val info = Seq(
      "workload" -> str(w.name), "seed" -> seed.toString,
      "trace" -> traced.toString, "run_seconds" -> num(seconds),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString, "local" -> str(s"local[$cpus]"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "spark_version" -> str(spark.version), "git_sha" -> str(meta.getOrElse("git-sha", "")),
      "source_digest" -> str(meta.getOrElse("source-digest", "")),
      "row_digest" -> str(gen.digest),
      "shape" -> obj(shape.map { case (k, v) => k -> num(v) }),
      "rounds" -> num(med("rounds")), "peak_rss_mb" -> num(rssMb),
      "end_to_end" -> obj(e2e.toSeq.map { case (k, (v, _)) => k -> num(v) }),
      "samples" -> obj(samples.toSeq.map { case (k, vs) => k -> vs.map(num).mkString("[", ",", "]") }))
    println(obj(Seq("linkbench_run" -> obj(info))))

    val allFinite = metrics.values.forall(m => !m._1.isNaN && !m._1.isInfinite)
    val correct = ops.failed == 0 && allFinite
    val result = obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
    println(result)
    System.out.flush()
    spark.stop()
  }

  /** The warm-up pass: a PageRank interrupted after InterruptAt
   * supersteps (its checkpoint is what every round resumes from) and two
   * CC supersteps. */
  private def warmUp(g: LinkGraph, s: LinkGraph): Unit = {
    val interrupted = ops.call("PageRank.run.interrupted")(PageRank.run(g,
      iterations = if (w.prFixedIters > 0) InterruptAt else 0, maxIterations = InterruptAt,
      tol = Tol, ckpt = Some(interruptCkpt), ckptEvery = Int.MaxValue))
    for (_ <- interrupted)
      ops.check("Checkpoint.latest_is_interrupt_iteration")(
        interruptCkpt.latestIteration().contains(InterruptAt))
    ops.call("warmup.ConnectedComponents")(ConnectedComponents.run(s, maxIterations = 2))
  }

  /** One pass of the workload's algorithms, then its checks. */
  private def runCycle(g: LinkGraph, s: LinkGraph, oracle: GraphOracle): Unit = {
    val fixed = w.prFixedIters > 0

    val pr = ops.call("PageRank.run")(
      PageRank.run(g, iterations = w.prFixedIters, maxIterations = MaxIters, tol = Tol))
    pr.foreach { case (r, sec) =>
      sample("pr_eps_iter", g.numEdges.toDouble * r.iterations / sec)
      sample("PageRank.iters", r.iterations)
      if (fixed) ops.check("PageRank.fixed_iterations")(r.iterations == w.prFixedIters)
      else ops.check("PageRank.converged")(
        r.deltas.nonEmpty && r.deltas.last <= Tol && r.iterations < MaxIters)
    }

    val cc = ops.call("ConnectedComponents.run")(ConnectedComponents.run(s))
    cc.foreach { case (r, sec) =>
      sample("cc_s", sec)
      sample("ConnectedComponents.iters", r.iterations)
    }

    for ((c, _) <- cc)
      ops.check("CC_components_equal_oracle")(
        ConnectedComponents.componentCount(c.labels) == oracle.components)

    // LP and TC run in traced runs only, so an end-to-end run fits its
    // time budget; their per-layer numbers still come from every workload.
    if (traced) {
      for ((c, _) <- cc; (l, _) <- ops.call("LabelPropagation.run")(LabelPropagation.run(s))) {
        sample("LabelPropagation.iters", l.iterations)
        ops.check("CC_labels_equal_LP_labels")(labelMismatches(c.labels, l.labels) == 0)
      }
      for ((t, _) <- ops.call("TriangleCount.count")(TriangleCount.count(s))) {
        sample("TriangleCount.iters", 1)
        ops.check("TriangleCount_equals_oracle")(t == oracle.triangles)
      }
    }

    // Resume the warm-up's interrupted PageRank, saving every superstep,
    // so the Checkpoint layer's read and its writes dominate resume_s.
    // Vertex ids are a function of the keys, so the state saved in the
    // warm-up's session is this graph's state.
    val saved0 = lineageFiles(interruptDir).toSet
    val bytes0 = dirBytes(interruptDir)
    for ((full, _) <- pr; (r, sec) <- ops.call("PageRank.run.resume")(PageRank.run(g,
        iterations = w.prFixedIters, maxIterations = MaxIters, tol = Tol,
        ckpt = Some(interruptCkpt), ckptEvery = 1, resume = true))) {
      sample("resume_s", sec)
      ops.check("PageRank.resume_equals_uninterrupted")(
        r.iterations == full.iterations && maxRankDiff(full.ranks, r.ranks) <= Tol)
      checkLineage("PageRank.resume", interruptCkpt, r.iterations, g.numVertices)
    }
    // back to the interrupted state: drop what the resume saved
    val added = lineageFiles(interruptDir).filterNot(saved0)
    sample("Checkpoint.saves", added.size)
    sample("Checkpoint.bytes_mb", (dirBytes(interruptDir) - bytes0) / 1048576.0)
    added.foreach(f => deleteTree(f.getParent))
    System.gc() // the next round starts from a collected heap
  }

  /** Every `_lineage.json` under the checkpoint records |V| rows, and
   * the latest iteration is the run's final one. */
  private def checkLineage(name: String, c: Checkpoint, finalIter: Int, n: Long): Unit =
    ops.check(s"$name.checkpoint_lineage") {
      val files = lineageFiles(Paths.get(c.dir))
      c.latestIteration().contains(finalIter) && files.nonEmpty && files.forall { f =>
        NumRows.findFirstMatchIn(Files.readString(f)).exists(_.group(1).toLong == n)
      }
    }

  private def labelMismatches(a: DataFrame, b: DataFrame): Long =
    a.select(col("id"), col("lbl").as("a"))
      .join(b.select(col("id"), col("lbl").as("b")), Seq("id"), "full_outer")
      .where(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
      .count()

  private def maxRankDiff(a: DataFrame, b: DataFrame): Double = {
    val r = a.select(col("id"), col("rank").as("a"))
      .join(b.select(col("id"), col("rank").as("b")), Seq("id"), "full_outer")
      .agg(max(coalesce(abs(col("a") - col("b")), lit(Double.PositiveInfinity))))
      .first()
    if (r.isNullAt(0)) Double.PositiveInfinity else r.getDouble(0)
  }

  // ---------------------------------------------------------------- trace

  /** Direct calls into single layers, on this workload's graphs. */
  private def probeLayers(g: LinkGraph, s: LinkGraph, tx: String): Unit = {
    for (_ <- 1 to ProbeReps)
      ops.call("EdgeBuilder.keyEdges")(noop(EdgeBuilder.keyEdges(spark.read.parquet(tx))))

    val dense = g.degrees.select(col("id"), lit(1.0).as("v"))
    for (_ <- 1 to ProbeReps)
      ops.call("Superstep.gather.dense")(noop(Superstep.gather(g, dense, col("v"), c => sum(c),
        activeEdges = g.numEdges, activeCount = g.numVertices)))
    // a small frontier of low-degree vertices, so the gather takes the
    // sparse (broadcast) path exactly as a CC tail round would
    val frontier = GraftLineage.cut(s.degrees.where(col("out_degree") <= 4)
      .select(col("id"), col("id").as("lbl")).limit(256))
    val fn = frontier.count()
    val mass = Superstep.frontierEdgeMass(s, frontier)
    for (_ <- 1 to ProbeReps)
      ops.call("Superstep.gather.sparse")(noop(Superstep.gather(s, frontier, col("lbl"), c => min(c),
        activeEdges = mass, activeCount = fn)))

    val state = g.vertices.select(col("id"), col("id").cast("double").as("v"))
    for (_ <- 1 to ProbeReps)
      ops.call("GraftLineage.cut")(GraftLineage.cut(state)).foreach(r => GraftLineage.free(r._1))

    val c = Checkpoint(work.resolve(s"ckpt/$runId/probe").toString)
    val cut = GraftLineage.cut(state)
    for (i <- 1 to ProbeReps) ops.call("Checkpoint.save")(c.save(cut, i, g.numVertices))
    for (i <- 1 to ProbeReps) ops.call("Checkpoint.load")(noop(c.load(spark, i)))
    GraftLineage.free(cut)
    deleteTree(work.resolve(s"ckpt/$runId/probe"))
  }

  /** Shape counters of the directed graph's src-clustered layout. */
  private def layerShape(g: LinkGraph): Unit = {
    val rowsPer = g.edgesBySrc.groupBy(spark_partition_id().as("p")).count()
      .collect().map(_.getLong(1).toDouble)
    val mean = g.numEdges.toDouble / g.numPartitions
    sample("LinkGraph.edge_part_skew", if (rowsPer.isEmpty) 1.0 else rowsPer.max / mean)
    sample("LinkGraph.max_in_degree",
      g.degrees.agg(max(col("in_degree"))).first().getLong(0).toDouble)
  }

  private def layerMetrics(): mutable.LinkedHashMap[String, (Double, String)] = {
    val t = tracer.get
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    // set-up spans of the local[N] loop only, not of the one-core pass
    def statsOf(name: String) = t.named(name)
      .filter(sp => !t.spans.exists(p => p.id == sp.parent && p.name == "setup.local1"))
      .map(t.stats)
    def wall(name: String) = Stats.median(statsOf(name).map(_.wallS))

    val builds = statsOf("LinkGraph.fromKeyEdges")
    val syms = statsOf("LinkGraph.symmetrize")
    m("EdgeBuilder.key_edges_s") = (wall("EdgeBuilder.keyEdges"), "s")
    m("LinkGraph.build_s") = (Stats.median(builds.map(_.wallS)), "s")
    m("LinkGraph.symmetrize_s") = (Stats.median(syms.map(_.wallS)), "s")
    m("LinkGraph.build_shuffle_mb") = (Stats.median(
      builds.zip(syms).map { case (a, b) => a.shuffleWriteMb + b.shuffleWriteMb }), "MiB")
    m("LinkGraph.edge_part_skew") = (med("LinkGraph.edge_part_skew"), "ratio")
    m("LinkGraph.max_in_degree") = (med("LinkGraph.max_in_degree"), "count")

    for ((algo, span) <- Seq(
        "PageRank" -> "PageRank.run",
        "ConnectedComponents" -> "ConnectedComponents.run",
        "LabelPropagation" -> "LabelPropagation.run",
        "TriangleCount" -> "TriangleCount.count")) {
      val st = statsOf(span)
      val iters = med(s"$algo.iters")
      m(s"$algo.iters") = (iters, "count")
      m(s"$algo.jobs_per_iter") = (Stats.median(st.map(_.jobs / iters)), "jobs")
      m(s"$algo.in_job_s") = (Stats.median(st.map(_.inJobS)), "s")
      m(s"$algo.driver_s") = (Stats.median(st.map(x => x.wallS - x.inJobS)), "s")
      m(s"$algo.task_s") = (Stats.median(st.map(_.taskS)), "s")
      m(s"$algo.shuffle_mb") = (Stats.median(st.map(_.shuffleWriteMb)), "MiB")
      m(s"$algo.slot_busy") = (Stats.median(st.map(x => x.taskS / (x.wallS * cpus))), "ratio")
      m(s"$algo.task_skew") = (Stats.median(st.map(_.taskSkew)), "ratio")
    }
    m("PageRank.scale_eff") = (med("PageRank.scale_eff"), "ratio")

    m("Superstep.dense_gather_s") = (wall("Superstep.gather.dense"), "s")
    m("Superstep.sparse_gather_s") = (wall("Superstep.gather.sparse"), "s")
    m("GraftLineage.cut_s") = (wall("GraftLineage.cut"), "s")
    m("Checkpoint.save_s") = (wall("Checkpoint.save"), "s")
    m("Checkpoint.save_jobs") = (Stats.median(statsOf("Checkpoint.save").map(_.jobs.toDouble)), "count")
    m("Checkpoint.load_s") = (wall("Checkpoint.load"), "s")
    m("Checkpoint.bytes_mb") = (med("Checkpoint.bytes_mb"), "MiB")
    m("Checkpoint.saves") = (med("Checkpoint.saves"), "count")

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    m("jvm.gc_s") = (gcS, "s")
    m("jvm.peak_heap_mb") = (heapMb, "MiB")
    m
  }
}

object Run {
  val MinRounds = 1
  val InterruptAt = 3
  val ProbeReps = 3
  val MaxIters = 100
  val Tol = 1e-6
  private val NumRows = "\"num_rows\":(\\d+)".r

  def lineageFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.getFileName.toString == "_lineage.json").toList
      finally walk.close()
    }

  def dirBytes(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  /** Heap in use; right after a full collection, the live heap. */
  def liveHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** VmHWM of this JVM: the resident-set high-water mark. */
  def rssHighWaterMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Main {
  private val t0 = System.nanoTime()
  def log(s: String): Unit =
    System.err.println(f"[linkbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workloads.all.find(w => opts.get("workload").contains(w.name)).getOrElse {
      log(s"--workload must be one of: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    new Run(w, opts("seed").toLong, opts("seconds").toDouble, opts.get("trace").contains("1"),
      Paths.get(opts("work")), opts).execute()
    sys.exit(0)
  }
}
