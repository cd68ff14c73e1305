package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LinkGraph

/**
 * Degree-distribution histogram in power-of-two buckets — the
 * first-look web-graph statistic (power-law exponent eyeball, hub
 * census, partitioner sizing input for [[graft.sources.BucketedLayout]]).
 *
 * Bucket = bit length of the degree (`floor(log2 d) + 1`), computed
 * EXACTLY as the length of the minimal binary representation
 * (`conv(d, 10, 2)` ↔ DuckDB `bin(d)`) — no floating-point log whose
 * rounding could differ across engines. One aggregation over the
 * (|V|-row) degree table; output is ≤ 64 rows regardless of scale.
 */
object DegreeStats {

  /**
   * GNN-style k-hop neighborhood aggregation with the degree as the
   * seed feature — the message-passing primitive of graph feature
   * pipelines: h₀(v) = degree(v), h_k(v) = Σ_{u ∈ N(v)} h_{k-1}(u).
   * Two dense sum-gathers (the same one-exchange superstep as
   * PageRank's, integer-valued so the export is exact). h₂ grows like
   * degree³ on hub-adjacent vertices; callers at extreme scale should
   * watch the long range (the transcript graph peaks far below it).
   *
   * @return (id, h1, h2) for every vertex
   */
  def khopDegreeSums(graph: LinkGraph): DataFrame = {
    import graft.Superstep
    val hop = (h: DataFrame) => {
      val msgs = Superstep.gather(
        graph, h, signal = col("h"), combine = sum)
      graph.vertices.select(col("id"))
        .join(msgs, Seq("id"), "left")
        .select(col("id"), coalesce(col("msg"), lit(0L)).as("h"))
    }
    val h0 = graph.degrees.select(col("id"), col("out_degree").as("h"))
    val h1 = hop(h0)
    val h2 = hop(h1)
    h1.select(col("id"), col("h").as("h1"))
      .join(h2.select(col("id"), col("h").as("h2")), "id")
  }

  /** @return (bucket, n_vertices, min_degree, max_degree) over
   *          vertices with out_degree ≥ 1; bucket b covers degrees
   *          [2^(b-1), 2^b). */
  def histogram(graph: LinkGraph): DataFrame =
    graph.degrees
      .where(col("out_degree") > 0)
      .withColumn("bucket", length(conv(col("out_degree"), 10, 2)).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_vertices"),
        min(col("out_degree")).as("min_degree"),
        max(col("out_degree")).as("max_degree"))

  /** Degree-assortativity sufficient statistics over the symmetric
   * edge set — the "do hubs link to hubs?" web-graph coefficient, as
   * EXACT INTEGER sums: m (directed edge rows), Σ du·dv, Σ du, Σ du²
   * (src-side sums; symmetry makes dst-side identical). Pearson
   * r = (m·Σdudv − (Σdu)²) / (m·Σdu² − (Σdu)²) is the consumer's one
   * float division, driver-side — only integers cross the oracle
   * boundary. One co-clustered degree join each way + a 4-column
   * global aggregate: a single reduce at any scale. */
  def assortativity(graph: LinkGraph): DataFrame = {
    require(graph.symmetric, "assortativity is defined on the undirected graph")
    val deg = graph.degrees.select(col("id"), col("out_degree").as("d"))
    graph.edgesBySrc
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("d", "du"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("d", "dv"), "dst")
      .agg(
        count(lit(1)).as("m"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("du")).as("sx2"))
  }

  /**
   * Rich-club coefficient φ(k) — "do the hubs form a club?": among
   * the N_k vertices of degree > k, φ(k) = 2·E_k / (N_k·(N_k−1))
   * where E_k counts undirected edges with BOTH endpoints above the
   * threshold. The transcript graph's readout: tool hubs are densely
   * inter-reachable while conversation chains are not.
   *
   * Scale shape: ONE pass over the edge set (degree join, then
   * grouped by min(du,dv) — ≤ max-degree rows survive) and one over
   * the degree table; the per-threshold expansion joins the fixed
   * `ks` list against those tiny aggregates, so cost is independent
   * of how many thresholds are requested. Integer-exact export:
   * φ_e4 = ⌊10⁴·E_dir / (N_k·(N_k−1))⌋ (E_dir = directed edge rows,
   * = 2·E_k on the symmetric graph); 0 when N_k < 2.
   *
   * @return (k, n_k, e_k, phi_e4), one row per threshold
   */
  def richClub(graph: LinkGraph, ks: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L, 32L)): DataFrame = {
    require(graph.symmetric, "rich-club is defined on the undirected graph")
    val spark = graph.vertices.sparkSession
    import spark.implicits._
    val deg = graph.degrees.select(col("id"), col("out_degree").as("d"))
    val edgeMin = graph.edgesBySrc
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("d", "du"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("d", "dv"), "dst")
      .select(least(col("du"), col("dv")).as("mm"))
      .groupBy(col("mm")).agg(count(lit(1)).as("cnt"))
    val degCounts = deg.groupBy(col("d")).agg(count(lit(1)).as("vn"))
    val ksDf = ks.toDF("k")
    val eK = ksDf.join(edgeMin, col("mm") > col("k"), "left")
      .groupBy(col("k")).agg(coalesce(sum(col("cnt")), lit(0L)).as("e_dir"))
    val nK = ksDf.join(degCounts, col("d") > col("k"), "left")
      .groupBy(col("k")).agg(coalesce(sum(col("vn")), lit(0L)).as("n_k"))
    nK.join(eK, "k").select(
      col("k"), col("n_k"),
      expr("e_dir div 2").as("e_k"),
      expr("CASE WHEN n_k >= 2 THEN (10000 * e_dir) div (n_k * (n_k - 1)) ELSE 0 END")
        .as("phi_e4"))
  }

  /** k_nn(k) degree-correlation curve (Pastor-Satorras et al.): the
   * mean neighbor degree of degree-k vertices, per degree class — the
   * functional form behind the scalar assortativity coefficient
   * ([[assortativity]]): decreasing k_nn(k) = disassortative
   * hub-periphery wiring (the transcript graph's tool hubs), flat =
   * uncorrelated. Exact integer sufficient statistics per class:
   * n_edges = Σ_{deg(v)=k} deg(v) = k·n_k and s_nbr = Σ over those
   * vertices' edges of deg(neighbor); the floor-scaled mean
   * ⌊10⁴·s_nbr/n_edges⌋ rides along. One co-clustered degree join
   * each way + a ≤max-degree-row aggregate. */
  def knnCurve(graph: LinkGraph): DataFrame = {
    require(graph.symmetric, "k_nn(k) is defined on the undirected graph")
    val deg = graph.degrees.select(col("id"), col("out_degree").as("d"))
    graph.edgesBySrc
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("d", "du"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("d", "dv"), "dst")
      .groupBy(col("du").as("k"))
      .agg(count(lit(1)).as("n_edges"), sum(col("dv")).as("s_nbr"))
      .select(col("k"), col("n_edges"), col("s_nbr"),
        expr("cast(cast(s_nbr AS decimal(38,0)) * 10000 div n_edges AS bigint)")
          .as("knn_e4"))
  }

  /** Friendship-paradox readout on the symmetric graph: "your
   * neighbors have more neighbors than you". Exact integer sufficient
   * statistics — n (vertices), Σd, Σd² — plus the two floor-scaled
   * means the statistic compares: mean degree ⌊10⁴·Σd/n⌋ and mean
   * NEIGHBOR degree ⌊10⁴·Σd²/Σd⌋ (a uniformly random edge endpoint
   * has degree d with probability d/Σd, so its expected degree is
   * Σd²/Σd ≥ Σd/n by Cauchy-Schwarz — equality iff regular). The gap
   * is the size-biased sampling effect that makes hub-first crawling
   * and salting-threshold planning work on power-law graphs.
   * One aggregate over the degree table — a single reduce at any
   * scale. */
  def friendshipParadox(graph: LinkGraph): DataFrame = {
    require(graph.symmetric, "friendship paradox reads undirected degrees")
    graph.degrees
      .agg(
        count(lit(1)).as("n"),
        sum(col("out_degree")).as("sd"),
        sum(col("out_degree") * col("out_degree")).as("sd2"))
      .select(col("n"), col("sd"), col("sd2"),
        // decimal(38,0): Σd²·10⁴ overflows a long once hub degrees
        // pass ~10^7 (same guard as Cooccur's lift numerator)
        expr("cast(cast(sd AS decimal(38,0)) * 10000 div n AS bigint)")
          .as("mean_deg_e4"),
        expr("cast(cast(sd2 AS decimal(38,0)) * 10000 div sd AS bigint)")
          .as("mean_nbr_deg_e4"))
  }

  /** Dominating-set election (the one-round cluster-head heuristic of
   * ad-hoc-network clustering): every vertex nominates the maximum
   * (degree, key) member of its CLOSED neighborhood; the nominated
   * set dominates by construction (each vertex equals or neighbors
   * its dominator) and concentrates on hubs. Deterministic via the
   * fixed-width priority string lpad(deg)∥'|'∥key, whose string max
   * ≡ (deg, key) lexicographic max in both engines. ONE dense gather
   * (max-combine) + a co-partitioned merge.
   *
   * @return (id, dom_key) — each vertex's elected dominator */
  def dominatorElection(graph: LinkGraph): DataFrame = {
    require(graph.symmetric, "dominator election runs on the undirected graph")
    val state = graph.degrees.join(graph.vertices, "id")
      .select(col("id"),
        concat(lpad(col("out_degree").cast("string"), 12, "0"),
          lit("|"), col("key")).as("pi"))
      .repartition(graph.numPartitions, col("id"))
    val msgs = graft.Superstep.gather(
      graph, state, signal = col("pi"), combine = max)
    state.join(msgs, Seq("id"), "left")
      .select(col("id"),
        substring(greatest(col("pi"), coalesce(col("msg"), col("pi"))), 14, 1000000)
          .as("dom_key"))
  }

  /** Component-size histogram over CC labels (id, lbl) — same exact
   * power-of-two bucketing; the giant-component census that drives
   * partitioner and sampler decisions on web graphs. ≤ 64 output rows
   * at any scale. */
  def sizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
      .withColumn("bucket", length(conv(col("sz"), 10, 2)).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_components"),
        min(col("sz")).as("min_size"),
        max(col("sz")).as("max_size"))

  /**
   * Eulerian classification per connected component — the
   * route-inspection census (Hierholzer's condition): a component
   * carries an Eulerian CIRCUIT when every degree is even, an
   * Eulerian TRAIL when exactly two vertices have odd degree,
   * otherwise none. Pure degree parity over the existing CC labels —
   * one grouped aggregate, no iteration, no new shuffle beyond the
   * labels join.
   *
   * @param labels (id, lbl) from any CC run on the same graph
   * @return (component, n_vertices, n_edges, n_odd, euler) — one row
   *         per component, named by its lexicographically smallest
   *         member key (the repo's component-naming convention)
   */
  def eulerCensus(graph: LinkGraph, labels: DataFrame): DataFrame = {
    require(graph.symmetric, "Euler census expects the symmetrized graph")
    val deg = graph.degrees.select(col("id"), col("out_degree").as("d"))
    val keyed = labels.join(graph.vertices, "id")
      .select(col("id"), col("key"), col("lbl"))
    val reps = keyed.groupBy(col("lbl")).agg(min(col("key")).as("component"))
    keyed.join(deg, "id").join(reps, "lbl")
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_vertices"),
        expr("sum(d) div 2").as("n_edges"), // symmetric ⇒ Σd even, exact
        sum(col("d") % 2).as("n_odd"))
      .select(col("component"), col("n_vertices"), col("n_edges"), col("n_odd"),
        when(col("n_odd") === 0, "circuit")
          .when(col("n_odd") === 2, "trail")
          .otherwise("none").as("euler"))
  }
}
