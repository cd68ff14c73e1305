package graft

import org.apache.spark.sql.functions._

import graft.algos.{Betweenness, ConnectedComponents, DagDepth, MultiSourceBfs}
import graft.pipeline.Dedup

/** Late-round-3 operators: DAG longest path, incremental CC,
 * graph-Voronoi partition, batched multi-root Brandes, blocked
 * substring dedup, containment pairs. */
class Round3bSpec extends SparkSpec {

  import spark.implicits._

  test("DagDepth: longest-path depths on a diamond DAG with a detached chain") {
    // 0→1→3→4, 0→2→3, 5→6 — longest path to 3 has 2 edges, to 4 has 3
    val g = graphOf(Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (5, 6)), symmetric = false)
    val r = DagDepth.run(g)
    val d = byIndex(g, r.depth, "d").view.mapValues(_.asInstanceOf[Long]).toMap
    assert(d == Map(0 -> 0L, 1 -> 1L, 2 -> 1L, 3 -> 2L, 4 -> 3L, 5 -> 0L, 6 -> 1L))
    assert(r.iterations <= 5) // longest path 3 edges → converged in ≤ 4 supersteps
    g.unpersist()
  }

  test("DagDepth: chain depth equals position") {
    val n = 12
    val g = graphOf((0 until n - 1).map(i => (i, i + 1)), symmetric = false)
    val d = byIndex(g, DagDepth.run(g).depth, "d")
    (0 until n).foreach(i => assert(d(i) == i.toLong))
    g.unpersist()
  }

  test("DagDepth: interrupted and resumed run equals uninterrupted depths") {
    val n = 14
    val g = graphOf((0 until n - 1).map(i => (i, i + 1)) ++ Seq((0, 5), (3, 9)),
      symmetric = false)
    val full = byIndex(g, DagDepth.run(g).depth, "d")
    val ck = Checkpoint(java.nio.file.Files.createTempDirectory("graft-dag").toString)
    DagDepth.run(g, maxIterations = 4, ckpt = Some(ck), ckptEvery = 2) // "kill" at 4
    assert(ck.latestIteration().exists(_ >= 2))
    val resumed = byIndex(g,
      DagDepth.run(g, ckpt = Some(ck), ckptEvery = 2, resume = true).depth, "d")
    assert(resumed == full)
    g.unpersist()
  }

  test("decayed PageRank with a constant timestamp equals unit-weight PageRank") {
    import org.apache.spark.sql.functions.{col => c}
    val ts0 = java.sql.Timestamp.valueOf("2024-01-15 12:00:00")
    val rows = (0 until 3).flatMap(conv => (0 until 4).map(t =>
      (s"c$conv", t, "user", s"text $t", if (t == 2) Some("tool_1") else None, ts0)))
    val tr = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // all ages 0 → every decay weight = 2^0 = 1.0 → identical graph
    val gw = LinkGraph.fromKeyEdges(
      graft.sources.EdgeBuilder.keyEdgesDecayed(tr), symmetric = false, numPartitions)
    val gu = LinkGraph.fromKeyEdges(
      graft.sources.EdgeBuilder.keyEdges(tr), symmetric = false, numPartitions)
    val a = graft.algos.WeightedPageRank.run(gw, iterations = 4).ranks
      .join(gw.vertices, "id").select(c("key"), c("rank"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = graft.algos.PageRank.run(gu, iterations = 4).ranks
      .join(gu.vertices, "id").select(c("key"), c("rank"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, k) }
    gw.unpersist(); gu.unpersist()
  }

  test("decayed PageRank: older sources transfer less rank") {
    // two 2-turn conversations, one 30 days older: the fresh source's
    // successor receives more rank than the stale one's
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      ("cNew", 0, "user", "x", None: Option[String], t("2024-01-30 12:00:00")),
      ("cNew", 1, "user", "y", None, t("2024-01-30 12:01:00")),
      ("cOld", 0, "user", "x", None, t("2024-01-01 12:00:00")),
      ("cOld", 1, "user", "y", None, t("2024-01-01 12:01:00")))
    val tr = rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val ke = graft.sources.EdgeBuilder.keyEdgesDecayed(tr)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(ke("cNew#0") == 1.0) // age 0 → 2^0
    assert(ke("cOld#0") == math.pow(2.0, -9)) // 29 days / 3-day bucket = 9
  }

  test("incremental CC (warm start on new edges) equals cold CC") {
    // components {0,1,2}, {3,4}, {5,6}, {7} under the old edges; the
    // weight-2 "new" edges merge {0,1,2}+{3,4} and {5,6}+{7}
    val edges = Seq((0, 1), (1, 2), (3, 4), (5, 6), (2, 3), (6, 7))
    val w = Map((2, 3) -> 2.0, (6, 7) -> 2.0)
    val g = graphOf(edges, symmetric = true, weights = w)
    val cold = ConnectedComponents.run(g).labels.withColumnRenamed("lbl", "want")
    val inc = ConnectedComponents.incremental(g, col("weight") === 2.0)
    assert(inc.labels.join(cold, "id").where(col("lbl") =!= col("want")).count() == 0)
    g.unpersist()
  }

  test("incremental CC wakes only the affected region") {
    // two far-apart path components; the new edge touches only one —
    // phase 2 must converge without re-propagating through the other
    val compA = (0 until 20).map(i => (i, i + 1)) // path 0..20
    val compB = (30 until 50).map(i => (i, i + 1)) // path 30..50
    val newE = Seq((20, 25), (25, 26)) // extends component A
    val w = newE.map(e => e -> 2.0).toMap
    val g = graphOf(compA ++ compB ++ newE, symmetric = true, weights = w)
    val inc = ConnectedComponents.incremental(g, col("weight") === 2.0)
    val labels = byIndex(g, inc.labels, "lbl").view.mapValues(_.asInstanceOf[Long]).toMap
    val idx = indexOf(g).map(_.swap) // index -> id
    // component A ∪ {25, 26} all labeled with min id of {0..20, 25, 26}
    val aIds = ((0 to 20) ++ Seq(25, 26)).map(idx)
    (0 to 20).foreach(i => assert(labels(i) == aIds.min))
    assert(labels(25) == aIds.min && labels(26) == aIds.min)
    val bIds = (30 to 50).map(idx)
    (30 to 50).foreach(i => assert(labels(i) == bIds.min))
    // phase-2 supersteps bounded by the affected region's diameter
    // (~21 hops from the splice point), not restarted from scratch —
    // the combined history stays well under 2× a cold run's rounds
    assert(inc.iterations < 50, s"took ${inc.iterations}")
    g.unpersist()
  }

  test("Voronoi: nearest-seed assignment with min-key tie-break on a path") {
    // path 0-1-2-3-4, seeds {0, 4}: vertex 2 is equidistant → v0000
    val g = graphOf((0 until 4).map(i => (i, i + 1)), symmetric = true)
    val idx = indexOf(g).map(_.swap)
    val roots = Seq(idx(0), idx(4))
    val rootKeys = g.vertices.select(col("id").as("root"), col("key").as("root_key"))
    val v = MultiSourceBfs.voronoi(MultiSourceBfs.run(g, roots).dists, rootKeys)
    val got = v.join(g.vertices, "id")
      .select(col("key"), col("seed_key"), col("dist")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(keyOf(0)) == ((keyOf(0), 0L)))
    assert(got(keyOf(1)) == ((keyOf(0), 1L)))
    assert(got(keyOf(2)) == ((keyOf(0), 2L))) // tie 2-2 → min seed key
    assert(got(keyOf(3)) == ((keyOf(4), 1L)))
    assert(got(keyOf(4)) == ((keyOf(4), 0L)))
    g.unpersist()
  }

  test("landmarkCloseness: per-vertex harmonic estimate over the seeds") {
    val g = graphOf((0 until 4).map(i => (i, i + 1)), symmetric = true)
    val idx = indexOf(g).map(_.swap)
    val d = MultiSourceBfs.run(g, Seq(idx(0), idx(4))).dists
    val got = byIndex(g, MultiSourceBfs.landmarkCloseness(d), "harmonic_e4")
      .view.mapValues(_.asInstanceOf[Long]).toMap
    // path 0-1-2-3-4, seeds {0,4}: Σ floor(1e4/d) over reaching seeds
    assert(got == Map(0 -> 2500L, 1 -> 13333L, 2 -> 10000L, 3 -> 13333L, 4 -> 2500L))
    g.unpersist()
  }

  test("rarity: per-occurrence floor(1e6/corpus-tf) sums and means") {
    val docs = Seq(
      (0L, "a a b", "en", "s0", 5L),
      (1L, "b c", "en", "s0", 3L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.pipeline.TextStats.rarity(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // tf: a=2, b=2, c=1
    assert(got(0L) == ((3L, 1500000L, 500000L)))
    assert(got(1L) == ((2L, 1500000L, 750000L)))
  }

  test("batched multi-root Brandes equals per-root Betweenness") {
    // diamond + tail + a second component (root 7 search stays local)
    val edges = Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (7, 8), (8, 9))
    val g = graphOf(edges, symmetric = true)
    val idx = indexOf(g).map(_.swap)
    val roots = Seq(idx(0), idx(7))
    val batch = Betweenness.runBatch(g, roots).bc
      .select(col("root"), col("id"), col("sigma"), col("bc")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    roots.foreach { root =>
      val single = Betweenness.run(g, root).bc.collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val batchRoot = batch.collect { case ((rt, id), v) if rt == root => id -> v }.toMap
      assert(batchRoot.keySet == single.keySet, s"reached set differs for root $root")
      single.foreach { case (id, (sig, bc)) =>
        assert(batchRoot(id)._1 == sig, s"sigma differs at ($root, $id)")
        assert(math.abs(batchRoot(id)._2 - bc) < 1e-9, s"bc differs at ($root, $id)")
      }
    }
    g.unpersist()
  }

  test("batched Brandes: resume from a forward snapshot yields identical bc") {
    val edges = Seq((0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7))
    val g = graphOf(edges, symmetric = true)
    val idx = indexOf(g).map(_.swap)
    val roots = Seq(idx(0), idx(4))
    val full = Betweenness.runBatch(g, roots)
    val dir = java.nio.file.Files.createTempDirectory("graft-bcb").toString
    val ck = Checkpoint(dir)
    Betweenness.runBatch(g, roots, ckpt = Some(ck), ckptEvery = 2)
    val first = keepFirstCheckpoint(dir) // "kill" after the first snapshot
    assert(first < full.levels, "the kill must leave forward levels to replay")
    val resumed = Betweenness.runBatch(g, roots, ckpt = Some(ck), ckptEvery = 2, resume = true)
    // a newer snapshot is written only after a forward superstep ran
    assert(ck.latestIteration().exists(_ > first))
    assert(resumed.levels == full.levels)
    val a = full.bc.select(col("id"), col("root"), col("sigma"), round(col("bc") * 1e9).as("b9"))
    val b = resumed.bc.select(col("id"), col("root"), col("sigma"), round(col("bc") * 1e9).as("b9"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    g.unpersist()
  }

  test("dupSpans: shared 5-token block counted, unique blocks not") {
    val docs = Seq(
      (0L, "a b c d e f g h i j", "en", "s0", 19L),
      (1L, "a b c d e x y z w q", "en", "s0", 19L),
      (2L, "p q r s t u v", "en", "s1", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.dupSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == ((2L, 1L, 5000L))) // "a b c d e" duplicated
    assert(got(1L) == ((2L, 1L, 5000L)))
    assert(got(2L) == ((2L, 0L, 0L))) // 5+2 tokens → 2 blocks, none shared
  }

  test("containmentPairs: a subset document scores containment 10000") {
    // `big` chosen so a minhash band deterministically collides (the
    // candidate generator is band-gated, like minhashPairs — subset
    // pairs BELOW the band threshold are out of contract)
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota"
    val docs = Seq(
      (0L, small, "en", "s0", small.length.toLong),
      (1L, big, "en", "s0", big.length.toLong),
      (2L, "one two three four five six seven", "en", "s0", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // doc0's 6 shingles are a strict subset of doc1's 9
    assert(got.contains((0L, 1L)), s"candidate pair missing: $got")
    assert(got((0L, 1L))._1 == 10000L) // fully contained
    assert(got((0L, 1L))._2 == 8571L) // 6/7 of the big doc
    assert(!got.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }
}
