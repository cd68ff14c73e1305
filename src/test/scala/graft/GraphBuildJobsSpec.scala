package graft

import graft.sources.{EdgeBuilder, Transcripts}

/** Spark jobs of a graph build from transcripts, under the suite's
 * default (production) AQE settings. A build step that runs twice (the
 * key-edge window re-run for the id joins), a separate count or
 * histogram job, or a second exchange for edges or degrees adds jobs
 * and fails here. */
class GraphBuildJobsSpec extends SparkSpec {

  /** fromKeyEdges, directed: 3 for the key-edge cut (window and dedup
   * exchanges, the cut's action), 3 for the ranked dictionary cut
   * (distinct and window exchanges, the action that also returns the
   * bucket sizes), 9 for the edges (the dictionary's clustering, the
   * key→id joins, which AQE turns into broadcasts at this size, and the
   * two jobs that fill and count the persist) and 3 for the degrees (one
   * exchange, fill and count). The parent measured 25. */
  val buildJobs = 18

  /** symmetrize: 3 for the edges (one exchange, fill and count) and 2
   * for the degrees (fill and count: the vertex and edge tables are both
   * clustered by id, so their union needs no exchange). The parent
   * measured 9. */
  val symmetrizeJobs = 5

  /** First use of a directed graph's edgesByDst (a Dataset count): the
   * dst exchange over the persisted edgesBySrc, the cache fill, and the
   * count's two jobs. The parent re-ran the whole key-edge pipeline and
   * measured 9. */
  val edgesByDstJobs = 4

  /** Each test builds its own transcripts, so no build reuses another's
   * cached tables. */
  private def build(convs: Int) = LinkGraph.fromKeyEdges(
    EdgeBuilder.keyEdges(Transcripts.synthetic(spark, convs, 8, 5)), symmetric = false, numPartitions)

  test("fromKeyEdges (directed): jobs pinned") {
    var g: LinkGraph = null
    assert(jobsOf { g = build(40) } == buildJobs)
    g.unpersist()
  }

  test("symmetrize: jobs pinned") {
    val g = build(41)
    var s: LinkGraph = null
    assert(jobsOf { s = g.symmetrize } == symmetrizeJobs)
    s.unpersist(); g.unpersist()
  }

  test("directed edgesByDst: first use runs one exchange over the built edges") {
    val g = build(42)
    assert(jobsOf(g.edgesByDst.count()) == edgesByDstJobs)
    g.unpersist()
  }
}
