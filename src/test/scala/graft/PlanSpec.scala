package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.syntax._

/** Physical-plan shape tests: the scale claims in BASELINE.md ("the
 * edge table never re-shuffles; one exchange of partially-aggregated
 * messages per superstep") asserted against the actual executed plan,
 * not just .explain reading. */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan = {
    df.count() // finalize AQE
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
  }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    // flatten across AQE subtrees; QueryStageExec hides its exchange in
    // `plan` (not in children). InMemoryTableScan's cached BUILD plan is
    // deliberately NOT followed — its exchanges ran once at persist
    // time, not per superstep.
    val extra = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.finalPhysicalPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ extra).flatMap(collectNodes)
  }

  private def shuffles(p: SparkPlan) =
    collectNodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
  private def broadcasts(p: SparkPlan) =
    collectNodes(p).count(_.isInstanceOf[BroadcastExchangeLike])

  override def beforeAll(): Unit = {
    super.beforeAll()
    // Toy tables sit below the broadcast threshold, which would let
    // Spark/AQE turn the joins under test into broadcast joins. That
    // is not only a toy-size effect: a cut superstep state carries no
    // stats, so an unhinted dense gather over any edge table under the
    // threshold (sf0.1 is) broadcasts the edges every superstep. The
    // gather pins its join with a hint; the production-thresholds test
    // below checks that without this override.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    super.afterAll()
  }

  lazy val g: LinkGraph = graphOf(
    (0 until 40).map(i => (i, (i + 1) % 40)) ++ Seq((0, 20), (5, 25), (7, 13)),
    symmetric = false)

  test("dense gather: edge side co-partitioned, ONE shuffle (the message combine)") {
    // state arrives hash-partitioned by id, as it does across supersteps
    val state = g.degrees
      .select(col("id"), (col("id") + 1).cast("double").as("v"))
      .repartition(numPartitions, col("id"))
      .graftCut
    val msgs = Superstep.gather(
      g, state, signal = col("v"), combine = sum)
    val plan = executed(msgs)
    assert(broadcasts(plan) == 0, s"dense mode must not broadcast:\n$plan")
    assert(shuffles(plan) == 1,
      s"dense gather must shuffle ONLY the combined messages (got ${shuffles(plan)}):\n$plan")
  }

  private val broadcastThresholds = Seq(
    "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")

  /** Run `body` with Spark's default broadcast thresholds (10 MB),
   * under which every toy table here is a broadcast candidate. */
  private def withProductionThresholds[T](body: => T): T = {
    broadcastThresholds.foreach(spark.conf.unset)
    try body finally broadcastThresholds.foreach(spark.conf.set(_, "-1"))
  }

  test("dense gather under production broadcast thresholds: edge table never broadcast") {
    withProductionThresholds {
      val state = g.degrees
        .select(col("id"), (col("id") + 1).cast("double").as("v"))
        .repartition(numPartitions, col("id"))
        .graftCut
      val msgs = Superstep.gather(
        g, state, signal = col("v"), combine = sum)
      val plan = executed(msgs)
      assert(broadcasts(plan) == 0,
        s"dense mode must not broadcast (the stats-free state makes the edges look small):\n$plan")
      assert(shuffles(plan) == 1,
        s"dense gather must shuffle ONLY the combined messages (got ${shuffles(plan)}):\n$plan")
    }
  }

  test("small frontier: no broadcast, only the message shuffle") {
    // three active vertices, clustered by id as a resident state's
    // active rows are, under thresholds that make both the frontier and
    // the edges broadcast candidates: the same co-partitioned join as a
    // dense gather
    withProductionThresholds {
      val frontier = g.degrees.limit(3)
        .select(col("id"), lit(1.0).as("v"))
        .repartition(numPartitions, col("id"))
        .graftCut
      val msgs = Superstep.gather(g, frontier, signal = col("v"), combine = sum)
      val plan = executed(msgs)
      assert(broadcasts(plan) == 0, s"a small frontier must not be broadcast:\n$plan")
      assert(shuffles(plan) == 1,
        s"a small frontier's gather shuffles ONLY the combined messages (got ${shuffles(plan)}):\n$plan")
    }
  }

  test("salted gather adds exactly one extra combine stage, still no edge shuffle") {
    val state = g.degrees
      .select(col("id"), (col("id") + 1).cast("double").as("v"))
      .repartition(numPartitions, col("id"))
      .graftCut
    val msgs = Superstep.gather(
      g, state, signal = col("v"), combine = sum, saltBuckets = 4)
    val plan = executed(msgs)
    assert(shuffles(plan) == 2,
      s"salted gather = per-(dst,salt) combine + final combine (got ${shuffles(plan)}):\n$plan")
  }

  /** Dataset persists land in `getPersistentRDDs` on first
   * MATERIALIZATION, not at `.persist()` — so the graph's own lazy
   * caches (vertices / clustered edges / degrees) must be forced
   * before the baseline snapshot or they nondeterministically count
   * as "growth" depending on what earlier tests touched. */
  private def materialize(g: LinkGraph): Unit = {
    g.vertices.count(); g.edgesBySrc.count()
    g.edgesByDst.count(); g.degrees.count()
  }

  test("no cached-RDD growth across a 60-level BFS (superseded cuts are freed)") {
    val path = graphOf((0 until 60).map(i => (i, i + 1)), symmetric = true)
    materialize(path)
    val root = path.vertices.orderBy(col("key")).select(col("id")).head().getLong(0)
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = algos.Bfs.run(path, root)
    assert(r.found == 61)
    val after = spark.sparkContext.getPersistentRDDs.size
    // a 60-level run must not retain O(levels) cuts — only the final
    // tree (plus at most a compaction straggler) may remain
    assert(after - before <= 2,
      s"persistent RDDs grew by ${after - before} across 60 BFS levels")
    path.unpersist()
  }

  test("no cached-RDD growth across a many-bucket delta-stepping run") {
    // 50-vertex weighted path → ~25 Δ=2 buckets; every superseded
    // state cut (each light round's, the heavy relaxation's and each
    // bucket's) must actually be freed
    val path = graphOf((0 until 50).map(i => (i, i + 1)), symmetric = true)
    materialize(path)
    val root = path.vertices.orderBy(col("key")).select(col("id")).head().getLong(0)
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = algos.DeltaStepping.run(path, root, delta = 2.0)
    assert(r.distances.count() == 51)
    assert(r.buckets >= 20, s"expected many buckets, got ${r.buckets}")
    // only the final distance cut + the light/heavy edge split views
    // may remain (the splits unpersist async, and in-suite cache
    // pressure adds ±2 accounting jitter — observed 3-5 for the same
    // code); the invariant is O(1), never O(buckets) ≈ 100 cuts
    val growth = spark.sparkContext.getPersistentRDDs.size - before
    assert(growth <= 5,
      s"persistent RDDs grew by $growth across ${r.buckets} buckets:\n" +
        spark.sparkContext.getPersistentRDDs.values
          .map(rdd => s"  ${rdd.id}: ${rdd.name} ${rdd.getStorageLevel.description}")
          .mkString("\n"))
    r.distances.graftFree()
    path.unpersist()
  }

  test("curate prunes every parquet scan to (doc_id, text) — wide columns never read") {
    // A 100 TB documents table is WIDE (embeddings, media, metadata).
    // The curation pass touches only doc_id + text; if any of its three
    // branches (dedup keeper / quality / langid) drags the full row
    // through the scan, the pass reads orders of magnitude more bytes
    // than it needs. Assert pruning on the executed plan.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-plan").toString
    Seq((0L, "the quick brown fox the end", "en", "s0", 27L, Array.fill(64)(0.5)))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
      .write.mode("overwrite").parquet(dir)
    val kept = pipeline.Curate.curate(
      spark.read.parquet(dir),
      minTokens = 1, maxTokens = 100, maxPunctE4 = 10000, minStopE4 = 0)
    val plan = executed(kept)
    val scans = collectNodes(plan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected parquet scans in:\n$plan")
    scans.foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "text")),
        s"curate scan must be pruned to (doc_id, text), read $read:\n$f")
    }
  }

  test("sample + pack prune parquet scans; decontam broadcasts the eval-gram side") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mix-plan").toString
    // doc 0 is the eval doc (0 % 97 == 0); 1 and 2 are training docs
    // (a non-empty train side keeps AQE from collapsing the plan)
    Seq(
      (0L, "the quick brown fox the end", "en", "s0", 27L, Array.fill(64)(0.5)),
      (1L, "the quick brown fox jumps over", "en", "s0", 30L, Array.fill(64)(0.5)),
      (2L, "unrelated words entirely here now too", "en", "s1", 37L, Array.fill(64)(0.5)))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)

    def scansOf(df: DataFrame) = collectNodes(executed(df)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // stratified sampling never touches text/embedding — on a wide
    // 100 TB corpus the sampler reads two thin columns
    scansOf(pipeline.Mix.stratifiedSample(docs)).foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source")),
        s"sample scan must be pruned to (doc_id, source), read $read")
    }
    // packing needs text only for the token count
    scansOf(pipeline.Mix.pack(docs)).foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source", "text")),
        s"pack scan must be pruned to (doc_id, source, text), read $read")
    }
    // decontamination: the (small) eval-gram set reaches the training
    // scan via broadcast — the corpus side never shuffles to meet it
    // (explicit hint, so it holds with autoBroadcast disabled)
    val plan = executed(pipeline.Decontam.contamination(docs))
    assert(collectNodes(plan).exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"expected a broadcast of the eval-gram set in:\n$plan")
  }

  test("PageRank superstep state keeps its partitioning across the lineage cut") {
    val state = g.degrees
      .select(col("id"), lit(1.0).as("v"))
      .repartition(numPartitions, col("id"))
      .graftCut
    // a co-partitioned self-join on id must add NO shuffle on the cut side
    val joined = state.join(
      g.degrees.repartition(numPartitions, col("id")), "id")
    val plan = executed(joined)
    assert(shuffles(plan) <= 1, // at most the degrees side re-shuffle
      s"cut state must retain hash partitioning (got ${shuffles(plan)}):\n$plan")
  }

  test("a cut whose plan reports a PartitioningCollection keeps its hash partitioning") {
    // `id AS lbl` over the id-clustered degrees: the projection reports
    // hash(id) and hash(lbl) as one PartitioningCollection
    val labels = g.degrees.select(col("id"), col("id").as("lbl")).graftCut
    val plan = executed(labels.join(g.degrees.repartition(numPartitions, col("id")), "id"))
    val cutSide = collectNodes(plan).count {
      case s: ShuffleExchangeLike => collectNodes(s).exists(_.isInstanceOf[RDDScanExec])
      case _ => false
    }
    assert(cutSide == 0, s"the cut side must not be re-shuffled (got $cutSide):\n$plan")
  }

  test("temperature mix prunes scans + broadcasts thresholds; wedge ops never go cartesian") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-temp-plan").toString
    Seq(
      (0L, "a b c", "s0"), (1L, "d e f", "s0"), (2L, "g h i", "s1"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)

    val mixPlan = executed(pipeline.Mix.temperatureMix(docs))
    collectNodes(mixPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.foreach { f =>
      val read = f.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("doc_id", "source")),
        s"temperature mix must read only (doc_id, source), read $read")
    }
    // the per-source threshold table reaches the corpus via broadcast
    // (explicit hint — holds with autoBroadcast disabled above)
    assert(collectNodes(mixPlan).exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"expected a broadcast of the threshold table in:\n$mixPlan")

    // the wedge enumerations are pure equi-joins — a cartesian product
    // anywhere would be the 100 TB killer
    val gs = graphOf(Seq((0, 1), (1, 2), (2, 0), (0, 3), (3, 4)), symmetric = true)
    Seq(
      algos.LinkPredict.topOverlap(gs, k = 10),
      algos.LinkPredict.edgeJaccard(gs)
    ).foreach { df =>
      val nodes = collectNodes(executed(df))
      assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        "wedge join must stay an equi-join, got a cartesian product")
    }
  }

  test("round-3d retrieval/dedup ops: equi-joins only, bm25 broadcasts the query") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e f g", "s0", 13L), (1L, "a b c d e f h", "s0", 13L),
      (2L, "x y z w v u t", "s1", 13L), (3L, "x y z w v u s", "s1", 13L))
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", lit("en"))
    def noCartesian(df: DataFrame, what: String): Unit =
      assert(!collectNodes(executed(df)).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
        s"$what must not plan a cartesian product")
    // prefix-filter join: candidate generation via the prefix-token
    // equi-join — a cartesian anywhere is the all-pairs trap it exists
    // to avoid
    noCartesian(pipeline.Dedup.allPairsJoin(docs, tE4 = 3000), "allPairsJoin")
    val bm25 = executed(pipeline.Vocab.bm25TopDocs(docs, nQueryTerms = 2, topK = 3))
    assert(collectNodes(bm25).exists(_.isInstanceOf[BroadcastExchangeLike]),
      s"bm25 must broadcast the |q|-row query table:\n$bm25")
    val gs = graphOf(Seq((0, 1), (1, 2), (2, 0), (0, 3), (2, 3)), symmetric = true)
    noCartesian(algos.WlRefine.run(gs, rounds = 2), "WL refinement")
    gs.unpersist()
  }

  test("asOfJoin: ONE hash exchange, no join node at all") {
    import spark.implicits._
    val probes = (0 until 60).map(i => (s"k${i % 5}", i)).toDF("k", "ord")
    val quotes = (0 until 60).map(i => (s"k${i % 5}", i, s"q$i")).toDF("k", "ord", "txt")
    val plan = executed(
      operators.Temporal.asOfJoin(probes, quotes, "k", "ord", Seq("txt")))
    val nodes = collectNodes(plan)
    assert(!nodes.exists(n => n.nodeName.contains("Join")),
      s"merge as-of join must not plan a join operator:\n$plan")
    assert(shuffles(plan) == 1,
      s"expected exactly the one by-key exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("pca covariance: chained generators, ONE shuffle, ZERO join nodes") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, (0 until 8).map(j => ((i + j) % 5).toFloat / 5f))).toDF("vec_id", "embedding")
    // the covariance data pass exactly as pipeline.Pca builds it
    val qarr = emb.select(
      expr("transform(embedding, x -> cast(round(cast(x AS double) * 1000) AS long))")
        .as("qa"))
    val cov = qarr
      .select(posexplode(col("qa")).as(Seq("j0", "xj")), col("qa"))
      .select(col("j0"), col("xj"), posexplode(col("qa")).as(Seq("k0", "xk")))
      .groupBy((col("j0") + 1).as("j"), (col("k0") + 1).as("k"))
      .agg(sum(col("xj") * col("xk")).as("c"))
    val plan = executed(cov)
    val nodes = collectNodes(plan)
    assert(!nodes.exists(_.nodeName.contains("Join")),
      s"covariance must not plan any join:\n$plan")
    assert(shuffles(plan) == 1,
      s"expected exactly the partial-agg exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("rangeJoin: keyless interval join plans as an equi-join on the bucket") {
    import spark.implicits._
    val points = (0L until 200L).map(i => i * 7L).toDF("pt")
    val intervals = (0L until 20L).map(i => (s"w$i", i * 60L, i * 60L + 90L))
      .toDF("name", "s", "e")
    val plan = executed(
      operators.Temporal.rangeJoin(points, intervals, "pt", "s", "e", bucketWidth = 50L))
    val nodes = collectNodes(plan)
    assert(!nodes.exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec] ||
        n.nodeName.contains("BroadcastNestedLoop")),
      s"bucketed range join must never fall back to a nested loop:\n$plan")
    assert(nodes.exists(n =>
      n.nodeName.contains("SortMergeJoin") || n.nodeName.contains("ShuffledHashJoin")),
      s"expected an equi-join on the time bucket:\n$plan")
  }

  test("bandCandidates: shuffle count independent of band count (unpivoted join)") {
    import spark.implicits._
    // round-4 refactor: ONE stack-unpivoted (q, bh)-keyed self-join
    // replaces the per-band join+union, so the physical shuffle count
    // must NOT grow with `bands` (the old shape paid 2 join sides per
    // band); the cap's size filter adds its one aggregation, also
    // band-count-independent
    val docs = (0L until 40L).map(i =>
      (i, s"t${i % 7} alpha beta gamma delta epsilon zeta eta theta i$i", "en", "web", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sh = pipeline.Dedup.shingles(docs)
    val s2 = shuffles(executed(pipeline.Dedup.bandCandidates(sh, 12, 2)))
    val s6 = shuffles(executed(pipeline.Dedup.bandCandidates(sh, 12, 6)))
    assert(s2 == s6, s"shuffles grew with bands: $s2 (2 bands) vs $s6 (6 bands)")
  }
}
