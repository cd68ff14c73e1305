package graft

import org.apache.spark.sql.functions._

import graft.algos.{PageRank, PageRankInc, Truss}
import graft.syntax._

/** Round-4 additions: full truss decomposition, incremental PageRank
 * (locality + fixpoint closeness), the LSH band-bucket cap, the
 * mutual-kNN half-edge contract, and lineage-cut leak guards. */
class Round4Spec extends SparkSpec {

  // ---------- full truss decomposition ----------

  test("trussness: 5-clique = 5, attached triangle = 3, pendant edge = 2") {
    // 5-clique on 0-4; triangle 4-5-6 hanging off it; pendant 6-7
    val clique = for (i <- 0 until 5; j <- i + 1 until 5) yield (i, j)
    val pairs = clique ++ Seq((4, 5), (4, 6), (5, 6), (6, 7))
    val g = graphOf(pairs, symmetric = true)
    val idx = indexOf(g)
    val got = Truss.trussness(g).collect()
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1))) -> r.getLong(2))
      .map { case ((a, b), t) => (math.min(a, b), math.max(a, b)) -> t }
      .toMap
    val expected =
      clique.map(e => e -> 5L).toMap ++
        Map((4, 5) -> 3L, (4, 6) -> 3L, (5, 6) -> 3L, (6, 7) -> 2L)
    assert(got == expected)
    g.unpersist()
  }

  test("trussness max-k level equals the fixed-k truss edge set") {
    val pairs = Seq(
      (0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (0, 3), // 4-clique → 4-truss
      (3, 4), (4, 5), (3, 5), // triangle → 3-truss
      (5, 6)) // pendant → 2
    val g = graphOf(pairs, symmetric = true)
    val idx = indexOf(g)
    def norm(df: org.apache.spark.sql.DataFrame, vcol: String): Set[(Int, Int)] =
      df.collect().map { r =>
        val (a, b) = (idx(r.getLong(0)), idx(r.getLong(1)))
        (math.min(a, b), math.max(a, b))
      }.toSet
    val dec = Truss.trussness(g)
    val at4 = norm(dec.where(col("trussness") >= 4).select(col("a"), col("b")), "t")
    val fixed4 = norm(Truss.run(g, k = 4).edges.select(col("a"), col("b")), "t")
    assert(at4 == fixed4 && at4.size == 6)
    g.unpersist()
  }

  // ---------- incremental PageRank ----------

  test("PageRankInc: warm-start repair lands on the cold full-graph fixpoint") {
    import spark.implicits._
    // diamond + tail; edges with weight 2.0 are the arrivals
    val pairs = Seq(
      (0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 0), (4, 5), (5, 6))
    val weights = Map((3, 4) -> 2.0, (4, 0) -> 2.0)
    val g = graphOf(pairs, symmetric = false, weights)
    // generous budgets: both phases run to their threshold floor
    val inc = PageRankInc.run(g, col("weight") === 2.0, r1 = 60, r2 = 60)
    val cold = PageRank.run(g, iterations = 0, maxIterations = 200, tol = 1e-9)
    val p = byIndex(g, inc.state, "p").map { case (k, v) =>
      k -> v.asInstanceOf[Long].toDouble / PageRankInc.scale }
    val want = byIndex(g, cold.ranks, "rank").map { case (k, v) =>
      k -> v.asInstanceOf[Double] }
    assert(p.keySet == want.keySet)
    // residual floor: every |r| < T·max(deg,1); walk amplification
    // 1/(1-α) ≈ 6.7 on 8 vertices bounds |p/S − raw| ≪ 1e-3
    want.foreach { case (i, w) =>
      assert(math.abs(p(i) - w) < 1e-3, s"vertex $i: ${p(i)} vs $w") }
    inc.state.graftFree()
    g.unpersist()
  }

  test("PageRankInc: a small arrival batch touches ≪ |V| rows in phase 2") {
    import spark.implicits._
    // 400-vertex directed ring (old), ONE chord arrival 0→200
    val n = 400
    val ring = (0 until n).map(i => (keyOf(i), keyOf((i + 1) % n), "adj", 1.0))
    val chord = Seq((keyOf(0), keyOf(200), "tool", 2.0))
    val ke = (ring ++ chord).toDF("src_key", "dst_key", "kind", "weight")
    val g = LinkGraph.fromKeyEdges(ke, symmetric = false, numPartitions)
    val inc = PageRankInc.run(g, col("weight") === 2.0, r1 = 90, r2 = 90)
    // phase 1 actually converged (idle round observed before budget)
    assert(inc.phase1Active.lastOption.contains(0L), s"phase1=${inc.phase1Active}")
    val coldTouched = n.toLong * inc.phase1Active.count(_ > 0)
    val warmTouched = inc.phase2Active.sum
    // the correction wave is a narrow frontier on the ring: total
    // pushed rows stay below ONE cold sweep of the vertex set, vs
    // ~74 full sweeps for the cold re-run
    assert(warmTouched > 0)
    assert(warmTouched < n, s"phase-2 touched $warmTouched ≥ |V| = $n")
    assert(coldTouched > 50L * warmTouched,
      s"cold $coldTouched vs warm $warmTouched — locality lost")
    inc.state.graftFree()
    g.unpersist()
  }

  // ---------- LSH band-bucket cap ----------

  test("bandCandidates: a viral boilerplate bucket is dropped at the cap") {
    import spark.implicits._
    val viral = (0L until 30L).map(i =>
      (i, "the same boilerplate footer text repeated on every page", "en", "web", 50L))
    val organic = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", "en", "web", 30L),
      (101L, "alpha beta gamma delta epsilon eta", "en", "web", 30L),
      (102L, "one two three four five six seven", "en", "web", 30L))
    val docs = (viral ++ organic).toDF("doc_id", "text", "lang", "source", "n_chars")
    // cap below the viral bucket size: the 30·29/2 candidate pairs
    // vanish, the organic near-dup pair survives
    val capped = pipeline.Dedup.minhashPairs(docs, threshold = 0.2)
    // identical texts share every band → with the default cap (1000)
    // nothing drops and all 435 viral pairs + the organic pair verify
    assert(capped.count() == 30L * 29 / 2 + 1)
    val sh = pipeline.Dedup.shingles(docs)
    val tight = pipeline.Dedup.bandCandidates(sh, 12, 4, maxBucket = 10)
    val cand = tight.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cand.exists { case (a, b) => a < 30 && b < 30 },
      "viral bucket leaked through the cap")
    assert(cand.contains((100L, 101L)), "organic candidates must survive")
    // and the dropped mass is reported
    val overflow = pipeline.Dedup.bandBucketOverflow(docs, maxBucket = 10)
      .collect().map(r => r.getLong(2))
    assert(overflow.nonEmpty && overflow.forall(_ == 30L))
  }

  // ---------- mutual-kNN half-edge contract ----------

  test("mutualKnnHalf emits exactly one row per mutual pair, src < dst") {
    import spark.implicits._
    // two tight 3-cliques in embedding space, k=2
    val emb = Seq(
      (0L, Seq(1.00f, 0.00f)), (1L, Seq(0.99f, 0.01f)), (2L, Seq(0.98f, 0.02f)),
      (10L, Seq(0.00f, 1.00f)), (11L, Seq(0.01f, 0.99f)), (12L, Seq(0.02f, 0.98f)))
      .toDF("vec_id", "embedding")
    val half = pipeline.Similarity.mutualKnnHalf(emb, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(half.length == half.toSet.size, "duplicate half edges")
    assert(half.forall { case (s, d) => s < d }, "reversed edge leaked")
    val set = half.toSet
    assert(!set.exists { case (s, d) => set.contains((d, s)) })
    // both cliques fully mutual at k=2 → 3 half edges each
    assert(half.length == 6, s"got ${half.toSeq}")
  }

  // ---------- real BMP codec ----------

  test("decodeBmp: hand-built 2x2 24-bit BMP decodes byte-exactly") {
    import spark.implicits._
    // 2×2, rowSize 8 (2 pad bytes/row), bottom-up rows:
    //   bottom: BGR(1,2,3) BGR(4,5,6) pad; top: BGR(7,8,9) BGR(10,11,12) pad
    val hex =
      "424D" + "46000000" + "00000000" + "36000000" + // BM, size 70, off 54
        "28000000" + "02000000" + "02000000" + "0100" + "1800" + // 2×2, 24bpp
        "00000000" + "10000000" + "130B0000" + "130B0000" + // BI_RGB, 16, 72dpi
        "00000000" + "00000000" +
        "0102030405060000" + "0708090A0B0C0000"
    val bmps = Seq((1L, hex)).toDF("media_id", "hx")
      .select(col("media_id"), unhex(col("hx")).as("bmp"))
    val r = pipeline.Multimodal.decodeBmp(bmps).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((1L, 2L, 2L)),
      s"header: $row")
    assert(row.getLong(4) == 4L, s"n_pixels: $row")
    assert((row.getLong(5), row.getLong(6), row.getLong(7)) == ((22L, 26L, 30L)),
      s"channel sums: $row")
  }

  test("bmpTable/decodeBmp round trip recovers the synthesis dimensions") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta", "en", "web", 22L),
      (7L, "the quick brown fox jumps over the lazy dog", "en", "web", 43L),
      (13L, "x", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = pipeline.Multimodal.decodeBmp(pipeline.Multimodal.bmpTable(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    Seq(0L, 7L, 13L).foreach { id =>
      val (valid, w, h, n) = got(id)
      assert(valid == 1L, s"doc $id invalid")
      assert(w == id % 5 + 2 && h == id % 4 + 2, s"doc $id dims ($w,$h)")
      assert(n == w * h, s"doc $id pixel count")
    }
  }

  // ---------- snapshot-expiry path normalization ----------

  test("expireSnapshots survives a respelled table path (no false-orphan GC)") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val table = java.nio.file.Files.createTempDirectory("graft-respell").toString
    val buckets = (0L until 12L).map(i => (i, (i / 4).toInt)).toDF("id", "bucket")
    val e0 = (0L until 12L).map(i => (i, i + 100L, 1.0)).toDF("src", "dst", "weight")
    val e1 = (0L until 12L).map(i => (i, i + 100L, 2.0)).toDF("src", "dst", "weight")
    assert(SnapshotTable.commit(e0, buckets, table) == 0)
    assert(SnapshotTable.commit(e1, buckets, table) == 1)
    val keep = SnapshotTable.read(spark, table, Some(1))
      .select("src", "dst", "weight").collect().map(_.toSeq).toSet
    // expire through a DIFFERENT spelling of the same directory: the
    // manifests recorded `loc` under the canonical path, the orphan
    // sweep lists under the respelled one — raw string comparison
    // would mark every referenced dir orphaned and delete live data
    val name = java.nio.file.Paths.get(table).getFileName.toString
    val respelled = s"$table/../$name"
    assert(SnapshotTable.expireSnapshots(respelled, retain = 1) == Seq(0))
    val after = SnapshotTable.read(spark, table, Some(1))
      .select("src", "dst", "weight").collect().map(_.toSeq).toSet
    assert(after == keep, "retained snapshot lost data after respelled-path expiry")
  }

  // ---------- lineage-cut leak guards ----------

  test("PprPush/MaxCut/Cascade free every auxiliary cut") {
    val pairs = Seq((0, 1), (1, 2), (2, 0), (2, 3), (3, 4))
    val g = graphOf(pairs, symmetric = true)
    val sc = spark.sparkContext
    // `backing` = cached RDDs legitimately behind the returned frame
    // (0 when the result IS the cut — graftFree reclaims it; 1 when
    // the result is a projection of the final state cut, e.g. MaxCut)
    def leakCheck(label: String, backing: Int = 0)(run: => DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = run
      out.count()
      out.graftFree()
      val after = sc.getPersistentRDDs.keySet -- before
      assert(after.size <= backing,
        s"$label leaked ${after.size} cached RDDs (allowed $backing)")
      after.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
    leakCheck("PprPush") {
      // a rounds budget past the fixpoint, where no vertex is active
      algos.PprPush.run(g, g.vertices.agg(min(col("id"))).first().getLong(0),
        rounds = 12).state
    }
    leakCheck("MaxCut", backing = 1)(algos.MaxCut.run(g))
    leakCheck("Cascade") {
      val seed = g.vertices.agg(min(col("id"))).first().getLong(0)
      algos.Cascade.run(g, Seq(seed))
    }
    val ids = g.vertices.orderBy(col("key")).select(col("id")).collect().map(_.getLong(0))
    leakCheck("Katz", backing = 1)(algos.Katz.run(g).katz)
    leakCheck("EigenCentrality", backing = 1)(algos.EigenCentrality.run(g).eigen)
    leakCheck("Salsa", backing = 1)(algos.Salsa.run(g).scores)
    leakCheck("HittingTime", backing = 1)(algos.HittingTime.run(g, col("key") === keyOf(4)))
    leakCheck("BidirBfs") { algos.BidirBfs.dist(g, ids(0), ids(4)); spark.emptyDataFrame }
    val d = graphOf(pairs, symmetric = false)
    d.edgesByDst.count() // the graph's dst layout is cached on first use, not by the runs
    leakCheck("PageRankInc")(PageRankInc.run(d, col("weight") === 2.0).state)
    leakCheck("BowTie")(algos.BowTie.census(d))
    leakCheck("Scc")(algos.Scc.run(d).sccs)
    leakCheck("TemporalReach") {
      import spark.implicits._
      val te = pairs.flatMap { case (a, b) => Seq((keyOf(a), keyOf(b), 10L * a + b), (keyOf(b), keyOf(a), 10L * a + b)) }
        .toDF("src_key", "dst_key", "t")
      algos.TemporalReach.run(te, Seq((keyOf(0), 0L)).toDF("key", "arr"), numPartitions).arrivals
    }
    d.unpersist()
    val dag = graphOf(Seq((0, 1), (1, 2), (0, 2), (2, 3), (3, 4)), symmetric = false)
    leakCheck("DagDepth.runContracted")(algos.DagDepth.runContracted(dag).depth)
    dag.unpersist()
    g.unpersist()
  }

  type DataFrame = org.apache.spark.sql.DataFrame
}
