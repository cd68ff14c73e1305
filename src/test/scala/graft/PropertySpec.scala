package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.algos.{ConnectedComponents, PageRank}
import graft.syntax._

/** Property-based tests (SURVEY.md §5.4) on seeded random graphs. */
class PropertySpec extends SparkSpec {

  def check(p: Prop, n: Int = 5): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  val graphGen: Gen[Seq[(Int, Int)]] = for {
    n <- Gen.choose(4, 16)
    m <- Gen.choose(n, 3 * n)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
    } yield (a, b))
  } yield edges.distinct

  test("random sub-frontier gather matches a join-then-group reference, by id or not") {
    // The one gather path must combine exactly the active vertices'
    // out-edge messages, whatever the frontier's size and however its
    // rows arrive partitioned: a resident state's active rows are
    // clustered by id, a fresh frontier need not be. The reference is
    // the plain relational superstep, evaluated on the driver.
    val gen = for {
      edges <- graphGen
      active <- Gen.listOfN(16, Gen.oneOf(true, false))
    } yield (edges, active)
    check(Prop.forAll(gen) { case (edges, active) =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = false)
        val byId = indexOf(g)
        val chosen = byId.collect { case (id, i) if active(i) => id }.toSeq
        val frontier = g.degrees.where(col("id").isin(chosen: _*))
          .select(col("id"), (col("id") * 7 + 1).cast("double").as("v"))
        val v = chosen.map(id => id -> (id * 7 + 1).toDouble).toMap
        val expected = g.edgesBySrc.collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1)))
          .collect { case (src, dst) if v.contains(src) => dst -> v(src) }
          .groupMapReduce(_._1)(_._2)(math.min)
        def gathered(layout: org.apache.spark.sql.DataFrame) = Superstep.gather(
          g, layout.graftCut, signal = col("v"), combine = min)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val clustered = gathered(frontier.repartition(numPartitions, col("id")))
        val scattered = gathered(frontier.repartition(3, col("v") % 3))
        g.unpersist()
        (clustered == expected) :| s"clustered: $clustered != $expected" &&
          (scattered == expected) :| s"not clustered by id: $scattered != $expected"
      }
    })
  }

  test("salted gather ≡ unsalted gather (forced saltBuckets = 4, sum and min combiners)") {
    // The skew path (two-level per-(dst, salt) aggregation) must
    // combine to identical messages for any associative combiner —
    // round-1 shipped it as dead code with no test (verdict #3).
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = false)
        val state = g.degrees.select(col("id"), (col("id") * 7 + 1).cast("double").as("v"))
        def run(saltBuckets: Int, combiner: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
          Superstep.gather(
            g, state, signal = col("v"), combine = combiner, saltBuckets = saltBuckets)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        val same = run(0, sum) == run(4, sum) && run(0, min) == run(4, min)
        g.unpersist()
        same
      }
    })
  }

  test("autoSaltBuckets: fires on a hub star, stays off on balanced graphs") {
    val star = graphOf((1 to 40).map(i => (i, 0)), symmetric = false)
    assert(Superstep.autoSaltBuckets(star, minHubDegree = 10, skewFactor = 5.0) == 16)
    // production default threshold (10^6) must NOT fire at toy scale
    assert(Superstep.autoSaltBuckets(star) == 0)
    val cycle = graphOf((0 until 8).map(i => (i, (i + 1) % 8)), symmetric = false)
    assert(Superstep.autoSaltBuckets(cycle, minHubDegree = 0, skewFactor = 5.0) == 0)
    star.unpersist(); cycle.unpersist()
  }

  test("PageRank mass conservation: pr_sum == |V| on graphs without dangling vertices") {
    // Reference reports pr_sum ≈ |V| at the damping fixpoint
    // (pagerank.cpp:107-112); exact conservation holds when every
    // vertex has out-degree ≥ 1 (no sink loses mass).
    val cyclePlus = Seq((0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (3, 1))
    val g = graphOf(cyclePlus, symmetric = false)
    val r = PageRank.run(g, iterations = 0, maxIterations = 200, tol = 1e-10)
    val sum = r.ranks.agg(org.apache.spark.sql.functions.sum(col("rank"))).first().getDouble(0)
    assert(math.abs(sum - g.numVertices) < 1e-6)
  }

  test("CC label of every vertex is the min index in its component (random graphs)") {
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
        val g = graphOf(edges, symmetric = true)
        val expected = Oracle.ccLabels(n, edges)
        // canonicalize engine components (min-ID labels) to min-member-index
        val got = byIndex(g, ConnectedComponents.run(g).labels, "lbl")
          .view.mapValues(_.asInstanceOf[Long]).toMap
        val repByLbl = got.groupBy(_._2).map { case (l, m) => l -> m.keys.min }
        val ok = got.forall { case (i, l) => repByLbl(l) == expected(i) }
        g.unpersist()
        ok
      }
    })
  }

  test("IVF with nprobe = nlist ≡ brute force on seeded random embeddings") {
    // Exhaustive probing makes IVF search exact regardless of how the
    // Lloyd clustering landed — equality must hold bit-for-bit for any
    // vector set (trains the quantizer on adversarially unclustered
    // random data, unlike the hand-built PipelineSpec fixture).
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val emb = (0L until 60L).map { id =>
      (id, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val ivf = pipeline.Similarity.ivfTopK(emb, nlist = 5, nprobe = 5, k = 3, lloydIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val brute = pipeline.Similarity.cosineTopK(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(ivf == brute)
  }

  test("relabeling invariance: permuting vertex ids permutes PageRank results") {
    val edges = Seq((0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (0, 5))
    val perm = Map(0 -> 3, 1 -> 5, 2 -> 0, 3 -> 4, 4 -> 1, 5 -> 2)
    val g1 = graphOf(edges, symmetric = false)
    val g2 = graphOf(edges.map { case (a, b) => (perm(a), perm(b)) }, symmetric = false)
    val r1 = byIndex(g1, PageRank.run(g1, iterations = 7).ranks, "rank")
    val r2 = byIndex(g2, PageRank.run(g2, iterations = 7).ranks, "rank")
    perm.foreach { case (orig, remapped) =>
      assert(math.abs(r1(orig).asInstanceOf[Double] - r2(remapped).asInstanceOf[Double]) < 1e-12)
    }
  }

  test("weighted PageRank ≡ PageRank on random graphs with unit weights") {
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = false)
        val pr = byIndex(g, PageRank.run(g, iterations = 4).ranks, "rank")
        val wpr = byIndex(g, graft.algos.WeightedPageRank.run(g, iterations = 4).ranks, "rank")
        val same = pr.keySet == wpr.keySet && pr.forall { case (i, v) =>
          math.abs(v.asInstanceOf[Double] - wpr(i).asInstanceOf[Double]) < 1e-12
        }
        g.unpersist()
        same
      }
    })
  }

  test("HITS total hub mass equals total auth mass routed back through edges") {
    // Σ_v hub_k(v) = Σ_(u→w) auth_k(w) by definition — an edge-mass
    // conservation property any correct implementation must satisfy.
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = false)
        val r = graft.algos.Hits.run(g, iterations = 2).scores
        val hubSum = r.agg(sum(col("hub"))).first().getLong(0)
        val auth = byIndex(g, r, "auth").map { case (k, v) => k -> v.asInstanceOf[Long] }
        val viaEdges = edges.map { case (_, w) => auth(w) }.sum
        g.unpersist()
        hubSum == viaEdges
      }
    })
  }

  test("DagDepth equals the topological-order DP on random DAGs") {
    // random DAGs by construction: edges only point index-upward, so
    // index order IS a topological order and the closed-form DP
    // depth[v] = max(depth[u] + 1 over in-edges) is exact
    val dagGen: Gen[Seq[(Int, Int)]] = for {
      n <- Gen.choose(4, 14)
      m <- Gen.choose(n, 3 * n)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 2); b <- Gen.choose(a + 1, n - 1)
      } yield (a, b))
    } yield edges.distinct
    check(Prop.forAll(dagGen) { edges =>
      edges.nonEmpty ==> {
        val n = edges.flatMap(e => Seq(e._1, e._2)).max + 1
        val dp = Array.fill(n)(0L)
        (0 until n).foreach { v =>
          edges.foreach { case (a, b) => if (b == v) dp(v) = math.max(dp(v), dp(a) + 1) }
        }
        val g = graphOf(edges, symmetric = false)
        val got = byIndex(g, graft.algos.DagDepth.run(g).depth, "d")
          .view.mapValues(_.asInstanceOf[Long]).toMap
        val ok = got.forall { case (i, d) => d == dp(i) }
        g.unpersist()
        ok
      }
    })
  }

  test("incremental CC ≡ cold CC for random new-edge subsets") {
    val splitGen: Gen[(Seq[(Int, Int)], Set[(Int, Int)])] = for {
      edges <- graphGen
      canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      flags <- Gen.listOfN(canon.size, Gen.oneOf(true, false))
    } yield (canon, canon.zip(flags).collect { case (e, true) => e }.toSet)
    check(Prop.forAll(splitGen) { case (edges, newSet) =>
      edges.nonEmpty ==> {
        val w = newSet.map(e => e -> 2.0).toMap
        val g = graphOf(edges, symmetric = true, weights = w)
        val cold = byIndex(g, ConnectedComponents.run(g).labels, "lbl")
        val inc = byIndex(g,
          ConnectedComponents.incremental(g, col("weight") === 2.0).labels, "lbl")
        val ok = cold == inc
        g.unpersist()
        ok
      }
    }, n = 4)
  }

  test("Voronoi assignment is the argmin of the MSBFS distances (random graphs)") {
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = true)
        val ids = g.vertices.select(col("id")).collect().map(_.getLong(0)).sorted
        val roots = ids.take(2).toSeq
        val dists = graft.algos.MultiSourceBfs.run(g, roots).dists
        val rootKeys = g.vertices.select(col("id").as("root"), col("key").as("root_key"))
        val vor = graft.algos.MultiSourceBfs.voronoi(dists, rootKeys)
          .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        val keyById = g.vertices.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val raw = dists.collect()
          .map(r => (r.getLong(0), keyById(r.getLong(1)), r.getInt(2).toLong))
        val want = raw.groupBy(_._1).view.mapValues(rows =>
          rows.map(t => (t._3, t._2)).min).toMap
        val ok = vor.size == want.size && want.forall { case (id, (d, sk)) =>
          vor(id) == ((sk, d))
        }
        g.unpersist()
        ok
      }
    }, n = 4)
  }

  test("k-core invariant: every member of the k-core has core_degree >= k") {
    check(Prop.forAll(graphGen) { edges =>
      edges.nonEmpty ==> {
        val g = graphOf(edges, symmetric = true)
        val core = graft.algos.KCore.run(g, k = 2).core.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        g.unpersist()
        core.values.forall(_ >= 2)
      }
    })
  }
}
