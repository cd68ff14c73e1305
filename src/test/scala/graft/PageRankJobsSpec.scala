package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.algos.PageRank

/** Spark jobs per PageRank superstep, under the suite's default
 * (production) broadcast thresholds. The marginal count between k and
 * k+4 supersteps cancels the fixed per-run jobs; an added job per
 * superstep (a re-broadcast edge or degree table, a second state
 * join) fails here. */
class PageRankJobsSpec extends SparkSpec {

  /** Jobs per superstep with AQE on: the message shuffle's map stage
   * and the lineage cut (which also carries the delta sum). */
  val jobsPerSuperstep = 2

  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  lazy val g: LinkGraph = graphOf(
    (0 until 30).map(i => (i, (i + 1) % 30)) ++ Seq((0, 15), (3, 9), (9, 3), (4, 22)) ++
      (31 until 36).map(i => (i, 0)),
    symmetric = false)

  private def marginal(run: Int => PageRank.Result): Int = {
    run(2) // warm-up: the graph's lazy statistics are computed once
    val k = 2
    val jk = jobsOf(assert(run(k).iterations == k))
    val jk4 = jobsOf(assert(run(k + 4).iterations == k + 4))
    assert((jk4 - jk) % 4 == 0, s"non-integral jobs per superstep: $jk at $k, $jk4 at ${k + 4}")
    (jk4 - jk) / 4
  }

  test("fixed-iteration PageRank: jobs per superstep pinned") {
    assert(marginal(k => PageRank.run(g, iterations = k)) == jobsPerSuperstep)
  }

  test("convergence-mode PageRank: jobs per superstep pinned (delta rides the cut)") {
    // tol < 0 never stops early, so the run takes exactly maxIterations
    assert(marginal(k => PageRank.run(g, maxIterations = k, tol = -1.0)) == jobsPerSuperstep)
  }
}
