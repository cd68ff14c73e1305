package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.syntax._
import graft.algos.{Betweenness, Bfs, ConnectedComponents, PageRank, Sssp}

/** Checkpoint write→read round-trip, lineage metadata, and
 * kill-and-resume equality (SURVEY.md §5.5). */
class CheckpointSpec extends SparkSpec {

  def tmpDir(): String =
    Files.createTempDirectory("graft-ckpt").toString

  val edges: Seq[(Int, Int)] = Seq(
    (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (2, 6), (6, 7),
    (8, 9), (9, 10), (10, 8))

  test("checkpoint round-trip is exact and carries lineage") {
    val g = graphOf(edges, symmetric = false)
    val ck = Checkpoint(tmpDir())
    val state = g.degrees.select(col("id"), col("out_degree").cast("double").as("v"))
    ck.save(state, 3, 42L)
    assert(ck.latestIteration().contains(3))
    val back = ck.load(spark, 3)
    assert(back.exceptAll(state).count() == 0 && state.exceptAll(back).count() == 0)
    val lineage = ck.lineage(3)
    assert(lineage.contains("\"iteration\":3"))
    assert(lineage.contains("\"active_count\":42"))
    assert(lineage.contains("partition_hashes"))
  }

  test("PageRank: interrupted at iteration k, resumed run equals uninterrupted run") {
    val g = graphOf(edges, symmetric = false)
    val full = PageRank.run(g, iterations = 8)
    val dir = tmpDir()
    val ck = Checkpoint(dir)
    // "kill" after 4 supersteps (save every 2, so iter=4 is on disk)
    PageRank.run(g, iterations = 4, ckpt = Some(ck), ckptEvery = 2)
    assert(ck.latestIteration().contains(4))
    val resumed = PageRank.run(g, iterations = 8, ckpt = Some(ck), ckptEvery = 2, resume = true)
    val a = byIndex(g, full.ranks, "rank")
    val b = byIndex(g, resumed.ranks, "rank")
    assert(a.keySet == b.keySet)
    a.foreach { case (i, v) =>
      assert(math.abs(v.asInstanceOf[Double] - b(i).asInstanceOf[Double]) < 1e-12, s"vertex $i")
    }
  }

  /** Ranks of two runs agree within 1e-6 on every vertex. */
  private def assertRanksClose(g: LinkGraph, x: PageRank.Result, y: PageRank.Result): Unit = {
    val a = byIndex(g, x.ranks, "rank")
    val b = byIndex(g, y.ranks, "rank")
    assert(a.keySet == b.keySet)
    a.foreach { case (i, v) =>
      assert(math.abs(v.asInstanceOf[Double] - b(i).asInstanceOf[Double]) < 1e-6, s"vertex $i")
    }
  }

  test("PageRank: convergence-mode kill-and-resume equals the uninterrupted run") {
    val g = graphOf(edges, symmetric = false)
    val full = PageRank.run(g)
    assert(full.iterations > 3, "fixture must take more supersteps than the kill point")
    val ck = Checkpoint(tmpDir())
    // "kill" after 3 supersteps; the run's final save puts iter=3 on disk
    PageRank.run(g, maxIterations = 3, ckpt = Some(ck), ckptEvery = 2)
    assert(ck.latestIteration().contains(3))
    val resumed = PageRank.run(g, ckpt = Some(ck), ckptEvery = 2, resume = true)
    assert(resumed.iterations == full.iterations)
    assert(resumed.deltas.size == full.deltas.size - 3)
    full.deltas.drop(3).zip(resumed.deltas).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-6, s"delta $x vs $y") }
    assertRanksClose(g, full, resumed)
    // the state carries out_degree in memory only; files stay (id, v)
    assert(ck.load(spark, resumed.iterations).columns.toSeq == Seq("id", "v"))
  }

  test("PageRank: resume from a checkpoint at the iteration limit recovers undivided ranks") {
    val g = graphOf(edges, symmetric = false)
    val full = PageRank.run(g, iterations = 4)
    val ck = Checkpoint(tmpDir())
    PageRank.run(g, iterations = 4, ckpt = Some(ck), ckptEvery = 2)
    assert(ck.latestIteration().contains(4))
    // no superstep left to run: rank = v·out_degree from the loaded state
    val resumed = PageRank.run(g, iterations = 4, ckpt = Some(ck), resume = true)
    assert(resumed.iterations == 4)
    assertRanksClose(g, full, resumed)
    assert(ck.load(spark, 4).columns.toSeq == Seq("id", "v"))
  }

  /** Parquet writes (one per `Checkpoint.save`) that `body` runs. */
  private def writesOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])) n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    n.get
  }

  test("PageRank: k supersteps saved every iteration write k checkpoints") {
    val g = graphOf(edges, symmetric = false)
    val ck = Checkpoint(tmpDir())
    val k = 3
    assert(writesOf(PageRank.run(g, iterations = k, ckpt = Some(ck), ckptEvery = 1)) == k)
    assert(ck.latestIteration().contains(k))
  }

  test("PageRank: a resume at the iteration limit writes no checkpoint") {
    val g = graphOf(edges, symmetric = false)
    val ck = Checkpoint(tmpDir())
    PageRank.run(g, iterations = 3, ckpt = Some(ck), ckptEvery = 1)
    assert(writesOf(PageRank.run(g, iterations = 3, ckpt = Some(ck), ckptEvery = 1, resume = true)) == 0)
    assert(ck.latestIteration().contains(3))
  }

  test("WeightedPageRank: interrupted at iteration k, resumed run equals uninterrupted run") {
    import graft.algos.WeightedPageRank
    val w = edges.map { case (a, b) => (a, b) -> (1.0 + (a + b) % 3) }.toMap
    val g = graphOf(edges, symmetric = false, weights = w)
    val full = WeightedPageRank.run(g, iterations = 5)
    val ck = Checkpoint(tmpDir())
    WeightedPageRank.run(g, iterations = 2, ckpt = Some(ck), ckptEvery = 2) // "kill" at 2
    assert(ck.latestIteration().contains(2))
    val resumed = WeightedPageRank.run(g, iterations = 5, ckpt = Some(ck), ckptEvery = 2, resume = true)
    assert(resumed.iterations == 5 && ck.latestIteration().contains(5))
    val a = byIndex(g, full.ranks, "rank")
    val b = byIndex(g, resumed.ranks, "rank")
    assert(a.keySet == b.keySet)
    a.foreach { case (i, v) =>
      assert(math.abs(v.asInstanceOf[Double] - b(i).asInstanceOf[Double]) < 1e-9, s"vertex $i")
    }
  }

  test("BFS: resume from checkpoint yields the identical tree") {
    val g = graphOf(edges, symmetric = true)
    val root = 0L
    val full = Bfs.run(g, root)
    val ck = Checkpoint(tmpDir())
    // "kill" after 2 levels (save every level)
    Bfs.run(g, root, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(2))
    val resumed = Bfs.run(g, root, ckpt = Some(ck), ckptEvery = 1, resume = true)
    assert(resumed.found == full.found)
    val a = full.tree.select(col("id"), col("parent"), col("level"))
    val b = resumed.tree.select(col("id"), col("parent"), col("level"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("SSSP: resume from checkpoint yields identical distances") {
    val w = edges.map { case (a, b) => (a, b) -> (1.0 + (a + b) % 3) }.toMap
    val g = graphOf(edges, symmetric = true, weights = w)
    val root = 0L
    val full = Sssp.run(g, root)
    val ck = Checkpoint(tmpDir())
    Sssp.run(g, root, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(2))
    val resumed = Sssp.run(g, root, ckpt = Some(ck), ckptEvery = 1, resume = true)
    val a = full.distances
    val b = resumed.distances
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("BFS: a run stopped at its limit writes each iteration once and records its live frontier") {
    val g = graphOf(edges, symmetric = true)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(Bfs.run(g, 0L, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)) == 2)
    assert(ck.latestIteration().contains(2))
    assert(ck.activeCount(2) > 0, ck.lineage(2))
  }

  test("SSSP: a run stopped at its limit writes each iteration once") {
    val w = edges.map { case (a, b) => (a, b) -> (1.0 + (a + b) % 3) }.toMap
    val g = graphOf(edges, symmetric = true, weights = w)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(Sssp.run(g, 0L, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)) == 2)
    assert(ck.latestIteration().contains(2))
  }

  test("MSBFS: a run stopped at its limit writes each iteration once") {
    import graft.algos.MultiSourceBfs
    val g = graphOf(edges, symmetric = true)
    val roots = Seq(0L, 8L).map(i => indexOf(g).collectFirst {
      case (id, idx) if idx == i => id }.get)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(MultiSourceBfs.run(g, roots, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)) == 2)
    assert(ck.latestIteration().contains(2))
  }

  test("BC: forward phase resumes from the per-level sigma snapshot") {
    val g = graphOf(edges, symmetric = true)
    val root = 0L
    val full = Betweenness.run(g, root)
    val dir = tmpDir()
    val ck = Checkpoint(dir)
    Betweenness.run(g, root, ckpt = Some(ck), ckptEvery = 2)
    val first = keepFirstCheckpoint(dir) // "kill" after the first snapshot
    assert(first < full.levels, "the kill must leave forward levels to replay")
    val resumed = Betweenness.run(g, root, ckpt = Some(ck), ckptEvery = 2, resume = true)
    // a newer snapshot is written only after a forward superstep ran
    assert(ck.latestIteration().exists(_ > first))
    assert(resumed.levels == full.levels)
    val a = full.bc.select(col("id"), col("sigma"), round(col("bc") * 1e9).as("b9"))
    val b = resumed.bc.select(col("id"), col("sigma"), round(col("bc") * 1e9).as("b9"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("CC: resume from checkpoint converges to identical labels") {
    val g = graphOf(edges, symmetric = true)
    val full = ConnectedComponents.run(g)
    val dir = tmpDir()
    val ck = Checkpoint(dir)
    ConnectedComponents.run(g, ckpt = Some(ck), ckptEvery = 1, maxIterations = 2)
    assert(ck.latestIteration().nonEmpty)
    assert(ck.load(spark, ck.latestIteration().get).columns.toSeq == Seq("id", "lbl"))
    val resumed = ConnectedComponents.run(g, ckpt = Some(ck), resume = true)
    assertSameLabels(full, resumed)
    assert(ck.load(spark, ck.latestIteration().get).columns.toSeq == Seq("id", "lbl"))
  }

  private def assertSameLabels(x: ConnectedComponents.Result, y: ConnectedComponents.Result): Unit = {
    val a = x.labels.withColumnRenamed("lbl", "a")
    val b = y.labels.withColumnRenamed("lbl", "b")
    assert(a.count() == b.count())
    assert(a.join(b, "id").where(col("a") =!= col("b")).count() == 0)
  }

  test("CC: resume from a checkpoint at the fixpoint runs no superstep") {
    val g = graphOf(edges, symmetric = true)
    val ck = Checkpoint(tmpDir())
    val full = ConnectedComponents.run(g, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(full.iterations))
    assert(ck.activeCount(full.iterations) == 0)
    val resumed = ConnectedComponents.run(g, ckpt = Some(ck), ckptEvery = 1, resume = true)
    assert(resumed.iterations == full.iterations && resumed.activeHistory.isEmpty)
    assertSameLabels(full, resumed)
  }

  test("HITS: resume from the (auth, hub) snapshot yields identical scores") {
    import graft.algos.Hits
    val g = graphOf(edges, symmetric = false)
    val full = Hits.run(g, iterations = 4)
    val ck = Checkpoint(tmpDir())
    Hits.run(g, iterations = 2, ckpt = Some(ck), ckptEvery = 2)
    assert(ck.latestIteration().contains(2))
    val resumed = Hits.run(g, iterations = 4, ckpt = Some(ck), ckptEvery = 2, resume = true)
    val a = full.scores
    val b = resumed.scores
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("PPR: resume mid-walk yields identical scores") {
    import graft.algos.PersonalizedPageRank
    val g = graphOf(edges, symmetric = false)
    val full = PersonalizedPageRank.run(g, Seq(0L), iterations = 5)
    val ck = Checkpoint(tmpDir())
    PersonalizedPageRank.run(g, Seq(0L), iterations = 2, ckpt = Some(ck), ckptEvery = 2)
    assert(ck.latestIteration().contains(2))
    val resumed = PersonalizedPageRank.run(
      g, Seq(0L), iterations = 5, ckpt = Some(ck), ckptEvery = 2, resume = true)
    val a = full.scores.select(col("id"), round(col("score") * 1e9).as("s9"))
    val b = resumed.scores.select(col("id"), round(col("score") * 1e9).as("s9"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("MSBFS: resume from checkpoint yields identical landmark distances") {
    import graft.algos.MultiSourceBfs
    val g = graphOf(edges, symmetric = true)
    val roots = Seq(0L, 8L).map(i => indexOf(g).collectFirst {
      case (id, idx) if idx == i => id }.get)
    val full = MultiSourceBfs.run(g, roots)
    val ck = Checkpoint(tmpDir())
    MultiSourceBfs.run(g, roots, maxIterations = 2, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(2))
    val resumed = MultiSourceBfs.run(g, roots, ckpt = Some(ck), ckptEvery = 1, resume = true)
    assert(resumed.reached == full.reached)
    val a = full.dists
    val b = resumed.dists
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("MIS: resume mid-round yields the identical member set") {
    import graft.algos.Mis
    val g = graphOf(edges, symmetric = true)
    val full = Mis.run(g)
    val ck = Checkpoint(tmpDir())
    Mis.run(g, maxRounds = 1, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(1))
    val resumed = Mis.run(g, ckpt = Some(ck), ckptEvery = 1, resume = true)
    val a = full.mis
    val b = resumed.mis
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(full.size > 0)
  }

  test("k-core: resume mid-peel yields the identical core") {
    import graft.algos.KCore
    val g = graphOf(edges :+ ((4, 1)), symmetric = true) // cycle + tails
    val full = KCore.run(g, k = 2)
    val ck = Checkpoint(tmpDir())
    KCore.run(g, k = 2, maxRounds = 1, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().nonEmpty)
    val resumed = KCore.run(g, k = 2, ckpt = Some(ck), ckptEvery = 1, resume = true)
    val a = full.core
    val b = resumed.core
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(full.core.count() > 0, "fixture must have a nonempty 2-core")
  }

  test("k-core: a resume from the fixpoint round at maxRounds yields the identical core") {
    import graft.algos.KCore
    val g = graphOf(edges :+ ((4, 1)), symmetric = true)
    val full = KCore.run(g, k = 2)
    assert(full.core.count() > 0, "fixture must have a nonempty 2-core")
    val ck = Checkpoint(tmpDir())
    KCore.run(g, k = 2, maxRounds = full.rounds, ckpt = Some(ck), ckptEvery = 1)
    assert(ck.latestIteration().contains(full.rounds))
    // the fixpoint snapshot replays no round, at maxRounds or below it
    for (limit <- Seq(full.rounds, 10000)) {
      var resumed: KCore.Result = null
      assert(writesOf {
        resumed = KCore.run(g, k = 2, maxRounds = limit, ckpt = Some(ck), ckptEvery = 1, resume = true)
      } == 0)
      assert(resumed.rounds == full.rounds)
      val (a, b) = (full.core, resumed.core)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
  }

  test("k-core: a resume from a maxRounds interrupt short of the fixpoint still yields the empty core") {
    import graft.algos.KCore
    val g = graphOf(edges :+ ((4, 1)), symmetric = true)
    val rounds = KCore.run(g, k = 2).rounds
    assert(rounds >= 2, "fixture must peel before its fixpoint round")
    val ck = Checkpoint(tmpDir())
    assert(KCore.run(g, k = 2, maxRounds = rounds - 1, ckpt = Some(ck), ckptEvery = 1).core.count() == 0)
    val resumed = KCore.run(g, k = 2, maxRounds = rounds - 1, ckpt = Some(ck), ckptEvery = 1, resume = true)
    assert(resumed.rounds == rounds - 1 && resumed.core.count() == 0)
  }

  test("Truss: a resume from the fixpoint round at maxRounds yields the identical edges") {
    import graft.algos.Truss
    val g = graphOf(edges, symmetric = true)
    val full = Truss.run(g, k = 3)
    assert(full.edges.count() > 0, "fixture must have a nonempty 3-truss")
    val ck = Checkpoint(tmpDir())
    Truss.run(g, k = 3, maxRounds = full.rounds, ckpt = Some(ck))
    assert(ck.latestIteration().contains(full.rounds))
    val resumed = Truss.run(g, k = 3, maxRounds = full.rounds, ckpt = Some(ck), resume = true)
    assert(resumed.rounds == full.rounds)
    val (a, b) = (full.edges, resumed.edges)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("Truss: a resume from a fixpoint below maxRounds runs no round and writes nothing") {
    import graft.algos.Truss
    val g = graphOf(edges, symmetric = true)
    val ck = Checkpoint(tmpDir())
    val full = Truss.run(g, k = 3, ckpt = Some(ck))
    assert(full.rounds < 12, "fixture must reach its fixpoint below maxRounds")
    assert(ck.latestIteration().contains(full.rounds) && ck.activeCount(full.rounds) == 0)
    var resumed: Truss.Result = null
    assert(writesOf { resumed = Truss.run(g, k = 3, ckpt = Some(ck), resume = true) } == 0)
    assert(ck.latestIteration().contains(full.rounds))
    assert(resumed.rounds == full.rounds)
    val (a, b) = (full.edges, resumed.edges)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("Superstep.loop keeps a state that an idle step hands back") {
    val g = graphOf(edges, symmetric = false)
    val r = Superstep.loop("idle", 5)(
      start = _ => Superstep.Cut(g.vertices.select(col("id")).graftCut, 1L, more = true),
      step = c => c.copy(more = false))
    assert(r.iterations == 1)
    val rdd = r.state.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id), "the loop freed its final state")
    assert(r.state.count() == g.numVertices)
    r.state.graftFree()
  }

  test("k-core: a peel stopped at maxRounds writes that round once") {
    import graft.algos.KCore
    val g = graphOf(edges :+ ((4, 1)), symmetric = true)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(KCore.run(g, k = 2, maxRounds = 1, ckpt = Some(ck), ckptEvery = 1)) == 1)
    assert(ck.latestIteration().contains(1))
  }

  test("MIS: a run stopped at maxRounds writes that round once") {
    import graft.algos.Mis
    val g = graphOf((0 until 59).map(i => (i, i + 1)), symmetric = true)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(Mis.run(g, maxRounds = 1, ckpt = Some(ck), ckptEvery = 1)) == 1)
    assert(ck.latestIteration().contains(1))
    assert(ck.activeCount(1) > 0, "fixture must still have undecided vertices after round 1")
  }

  test("HITS: 3 iterations saved every iteration write 3 checkpoints, a resume at the limit none") {
    import graft.algos.Hits
    val g = graphOf(edges, symmetric = false)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(Hits.run(g, iterations = 3, ckpt = Some(ck), ckptEvery = 1)) == 3)
    assert(writesOf(Hits.run(g, iterations = 3, ckpt = Some(ck), ckptEvery = 1, resume = true)) == 0)
    assert(ck.latestIteration().contains(3))
  }

  test("Truss: a peel stopped at maxRounds writes that round once") {
    import graft.algos.Truss
    val g = graphOf(edges, symmetric = true)
    val ck = Checkpoint(tmpDir())
    assert(writesOf(Truss.run(g, k = 3, maxRounds = 1, ckpt = Some(ck))) == 1)
    assert(ck.latestIteration().contains(1))
  }

  test("DeltaStepping: a resume from a finished run writes no checkpoint") {
    import graft.algos.DeltaStepping
    val w = edges.map { case (a, b) => (a, b) -> (1.0 + (a + b) % 3) }.toMap
    val g = graphOf(edges, symmetric = true, weights = w)
    val ck = Checkpoint(tmpDir())
    val full = DeltaStepping.run(g, 0L, ckpt = Some(ck))
    assert(ck.activeCount(full.buckets) == 0)
    var resumed: DeltaStepping.Result = null
    assert(writesOf { resumed = DeltaStepping.run(g, 0L, ckpt = Some(ck), resume = true) } == 0)
    assert(resumed.buckets == full.buckets)
    val (a, b) = (full.distances, resumed.distances)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
