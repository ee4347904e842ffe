package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] iterative graph analytics beyond the cluster-resolution family
  * (q73's union-find / label propagation): PageRank, the link-centrality
  * measure web-scale corpus curation uses as a document quality prior.
  *
  * Graph here: the supplier→part shipment graph derived from lineitem
  * (distinct (l_suppkey → l_partkey) edges, keys namespaced 's…'/'p…').
  * It is deliberately bipartite with every part node DANGLING (no
  * out-edges) — dangling-mass redistribution is the part of distributed
  * PageRank naive implementations get wrong, so the fixture forces it
  * on ~95% of the mass every iteration.
  */
object Graph {

  private val Damping = 0.85
  private[graft] val Iterations = 5
  private val TopK = 20

  /** L1-delta fixed-point threshold for the PageRank early exit. At
    * 1e-12 the exit only fires on a genuinely-converged graph (uniform
    * fp noise ~1e-15); real testdata deltas are ~1e-3..1e-5 after 5
    * rounds, so Spark and the oracle agree on the flag with 7+ orders
    * of margin — the same far-from-every-boundary argument as the
    * 8-decimal rank rounding. */
  private[graft] val ConvergenceEps = 1e-12

  /** q138 — PageRank, `Iterations` synchronous iterations with uniform
    * teleport and dangling-mass redistribution, top-`TopK` nodes.
    *
    * Shape per iteration (the standard distributed PageRank loop):
    * one shuffle joining ranks to edges on src, one shuffle summing
    * contributions by dst, plus a 1-row dangling-mass aggregate to the
    * driver (the same scalar-per-round discipline as Lloyd's in
    * AnnIndex and the BPE argmax in TextOps). Edge and node tables are
    * built once and persisted; per-round lineage is cut with
    * localCheckpoint so the plan stays flat. At 100 TB the edge table
    * is pre-partitioned by src once (a bucketed layout per q134) and
    * every iteration reuses that partitioning for the src join —
    * per-round cost is then the single contribution shuffle on dst.
    *
    * The oracle unrolls the SAME recurrence as `Iterations` generated
    * CTEs — exact differential check, not a contract. Ranks are
    * rounded to 8 decimals only at the output (values ~1e-3, fp noise
    * ~1e-15: rounding is far from every boundary), and ties order by
    * node id in both engines. */
  def q138PageRank(spark: SparkSession, dir: String): DataFrame = {
    val nodes = shipmentNodes(spark, dir)
    // persisted like edges/nodes: every round's checkpoint job reads it,
    // and an unpersisted outdeg would re-run the groupBy 5 times
    val outdeg = shipmentOutdeg(spark, dir)
    val n = nodes.count()
    pagerankRanks(nodes, shipmentEdgesD(spark, dir), outdeg, n)
      .select(col("node"), round(col("r"), 8).as("rank"),
        col("converged"))
      .orderBy(desc("rank"), asc("node"))
      .limit(TopK)
  }

  /** The directed supplier→part shipment edge set shared by q138 and
    * Graph2's PPR/HITS (distinct (l_suppkey → l_partkey), keys
    * namespaced 's…'/'p…'), persisted HASH-PARTITIONED BY src once per
    * (session, dir): the static side of every per-iteration join never
    * re-shuffles — each round moves only the ranks/scores side. The
    * same one-time-layout-pays-off-per-round trade as q134's buckets. */
  private[operators] def shipmentEdges(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pr_edges|$dir")(
      Tables.lineitem(spark, dir)
        // distinct on the two LONG keys, then stringify: dedup hashes
        // 16 bytes per row instead of two materialized strings
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
        .select(concat(lit("s"), col("sk").cast("string")).as("src"),
          concat(lit("p"), col("pk").cast("string")).as("dst"))
        .repartition(col("src")))

  /** Node table of [[shipmentEdges]], persisted node-partitioned once
    * per (session, dir) and shared by q138 and Graph2's q143 (which
    * derives its seed flag from the node string, so no second
    * union+distinct shuffle or persisted copy is ever paid). */
  private[operators] def shipmentNodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pr_nodes|$dir")(
      shipmentEdges(spark, dir).select(col("src").as("node"))
        .union(shipmentEdges(spark, dir).select(col("dst").as("node")))
        .distinct()
        .repartition(col("node")))

  /** Out-degree of [[shipmentEdges]], cached node-keyed once per
    * (session, dir). ONE builder shared by q138 and Graph2's q143
    * (ADVICE r15: DfCache is first-build-wins, so a second verbatim
    * builder copy under the same key is a silent-drift hazard). The
    * table is supplier-dimension-sized — it scales linearly with SF. */
  private[operators] def shipmentOutdeg(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pr_outdeg|$dir")(
      shipmentEdges(spark, dir).groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d")))

  /** [[shipmentEdges]] pre-joined with the static out-degree, cached
    * once per (session, dir) so the per-round contribution join of
    * q138/q143 moves only the rank column. UNHINTED since r16 (VERDICT
    * r15 #1): the out-degree side scales linearly with SF, so a forced
    * broadcast is an OOM at the 100 TB design point — AQE broadcasts
    * while it is small and falls back to shuffle/SMJ beyond (the
    * SCALE.md "SF-scaling dims are left to AQE" rule). The build is
    * one-time and cached either way; the join output keeps the edge
    * table's src partitioning contract through the persist. */
  private[operators] def shipmentEdgesD(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pr_edges_d|$dir")(
      shipmentEdges(spark, dir).join(
        shipmentOutdeg(spark, dir).withColumnRenamed("node", "src"),
        Seq("src")))

  /** The synchronous PageRank recurrence with an L1-delta early exit
    * (q142's fixed-point discipline applied to the continuous case):
    * a converged graph stops paying for the remaining rounds — at scale
    * the round count, not the per-round shuffle, is what dominates
    * power-iteration wall time. Output carries the `converged` flag so
    * consumers (and the oracle) can tell a fixed point from an
    * iteration-budget stop.
    *
    * Per round: TWO jobs — the eager localCheckpoint that materializes
    * the update, and one scalar aggregate over the checkpoint that
    * returns BOTH per-round scalars (the L1 delta and the next round's
    * dangling mass; the dangling SET is static, so its flag rides the
    * checkpoint and the mass needs no r⋈outdeg job — VERDICT r13 #7).
    * The checkpoint is what keeps the LOGICAL plan flat: round k+1
    * references round k twice (delta + contributions), so an unchecked
    * 5-round composition is a 2^5-subtree plan that costs seconds just
    * to re-analyze (measured: ~5 s at sf0.1 with everything cached).
    * The scalars cross the driver per round (the q142 node-count
    * scalar-per-round discipline), never data-sized rows. */
  private[graft] def pagerankRanks(nodes: DataFrame, edgesD: DataFrame,
      outdeg: DataFrame, n: Long): DataFrame = {
    // `edgesD` is the edge table (src, dst) with the source's STATIC
    // out-degree `d` pre-joined ONCE (q138: the cached
    // [[shipmentEdgesD]]) instead of re-joining r⋈outdeg inside every
    // round's contribution subtree — per round the contribs join moves
    // only the rank column. Arithmetic is unchanged (same r/d terms into
    // the same dst-keyed sum), so ranks stay bit-identical to the
    // oracle's unrolled recurrence.
    // the dangling SET is static (a node with no out-edges never grows
    // one mid-iteration), so the flag is joined ONCE and rides every
    // checkpointed round; the dangling MASS of round k is then read off
    // the same per-round scalar job as the L1 delta — one aggregate
    // scan of the checkpoint — instead of a separate r⋈outdeg dang job
    // per round (VERDICT r13 #7). dm enters the next round as a driver
    // scalar (the delta/argmax scalar-per-round discipline; delta
    // already rides the same collect), arithmetic order unchanged.
    var r = nodes.join(outdeg, Seq("node"), "left")
      .select(col("node"), col("d").isNull.as("dangling"))
      .withColumn("r", lit(1.0 / n))
    val dangMass =
      coalesce(sum(when(col("dangling"), col("r")).otherwise(0.0)),
        lit(0.0))
    var dm = r.agg(dangMass).collect()(0).getDouble(0)
    var delta = Double.MaxValue
    var it = 0
    while (it < Iterations && delta >= ConvergenceEps) {
      val contribs = edgesD
        .join(r.select(col("node").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("d")).as("c"))
      // r_prev rides the checkpointed frame so the per-round L1-delta
      // job is a join-free scan of the checkpoint (it used to re-join
      // the two node-partitioned rounds — co-partitioned, but still a
      // second two-input plan per round)
      val next = r.select(col("node"), col("dangling"),
          col("r").as("r_prev"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("dangling"),
          (lit((1.0 - Damping) / n) +
            lit(Damping) *
              (coalesce(col("c"), lit(0.0)) + lit(dm / n.toDouble)))
            .as("r"),
          col("r_prev"))
        .localCheckpoint()
      val row = next.agg(
        coalesce(sum(abs(col("r") - col("r_prev"))), lit(0.0)),
        dangMass).collect()(0)
      delta = row.getDouble(0)
      dm = row.getDouble(1)
      r = next.drop("r_prev")
      it += 1
    }
    r.drop("dangling").withColumn("converged", lit(delta < ConvergenceEps))
  }

  /** Support threshold for q140's co-purchase edges — the pruning every
    * production co-occurrence graph applies before motif mining. */
  private[operators] val MinSupport = 2

  /** q141's wedge-center degree cap: nodes above it are ubiquitous hubs
    * whose Adamic-Adar contribution (1/ln(deg)) the measure itself
    * already discounts to near-noise; excluding them as wedge CENTERS
    * removes the quadratic C(deg, 2) wedge term. Inactive on the real
    * sf0.01/0.1 graphs (max degree < 64). */
  private val HubDegreeCap = 64

  /** q140 — TRIANGLE COUNTING (graph motif mining — the clustering
    * signal web-graph spam detection and community analysis run on),
    * over the part co-purchase graph: an undirected edge joins two
    * parts that appear in the same order at least [[MinSupport]] times.
    *
    * The scale shape is the standard two-join motif count with the
    * DEGREE-ORDERING trick: every undirected edge is oriented from its
    * lower-degree endpoint to its higher-degree endpoint (ties by id),
    * which makes the wedge join generate only wedges centered at a
    * node's HIGHER-degree neighbors — per-node wedge work is bounded by
    * the graph's arboricity instead of its max degree, so one celebrity
    * hub cannot quadratically explode the join (the classic
    * power-law-graph failure). The count is orientation-invariant
    * (any acyclic orientation counts each triangle exactly once), which
    * is what lets the DuckDB oracle use plain id-ordering and still
    * check the count exactly. Edge building self-joins lineitem on the
    * order key — bounded by lines-per-order (~7 here), the per-basket
    * bound co-purchase graphs rely on.
    *
    * Output also carries the wedge count (sum of C(deg, 2), exact
    * integer math) and the global clustering coefficient
    * 3·triangles/wedges — the summary statistic the graph's curators
    * trend over time. */
  def q140TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val degrees = copurchaseDegrees(spark, dir)
    val triangles = triangleCorners(spark, dir)
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = degrees
      .agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long")
        .as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(triangles))
      .crossJoin(broadcast(wedges))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }

  /** Undirected degree table of [[copurchaseEdges]], cached once per
    * (session, dir) — q140 and q285 each re-built it (one union +
    * groupBy shuffle per query) before round 15. Node-partitioned so
    * downstream node-keyed joins reuse the layout. */
  private[operators] def copurchaseDegrees(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"tri_degrees|$dir")(
      copurchaseEdges(spark, dir).select(col("p1").as("node"))
        .unionAll(copurchaseEdges(spark, dir).select(col("p2").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")))

  /** Closed-triangle corner rows (a, b, c) of the degree-oriented
    * co-purchase graph, cached once per (session, dir): the heavy
    * two-join motif search — previously run IN FULL by BOTH q140
    * (global count) and q285 (per-node counts); the r15 stage profile
    * charged ~50 s of task time per query to the same join. Orientation
    * low-degree → high-degree (ties by id) is acyclic by the strict
    * (deg, id) total order, so each triangle closes exactly once and
    * the corner multiset is exact (integer, orientation-invariant for
    * both consumers' aggregations). Output is triangle-count-sized —
    * far below the edge table at any scale. */
  private[operators] def triangleCorners(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"tri_corners|$dir")({
      val degrees = copurchaseDegrees(spark, dir)
      val withDeg = copurchaseEdges(spark, dir)
        .join(degrees.select(col("node").as("p1"), col("deg").as("d1")),
          Seq("p1"))
        .join(degrees.select(col("node").as("p2"), col("deg").as("d2")),
          Seq("p2"))
      val oriented = withDeg.select(
        when(col("d1") < col("d2") ||
            (col("d1") === col("d2") && col("p1") < col("p2")),
          struct(col("p1").as("src"), col("p2").as("dst")))
          .otherwise(struct(col("p2").as("src"), col("p1").as("dst")))
          .as("e"))
        .select(col("e.src"), col("e.dst"))
      val e1 = oriented.select(col("src").as("a"), col("dst").as("b"))
      val e2 = oriented.select(col("src").as("b"), col("dst").as("c"))
      val e3 = oriented.select(col("src").as("a"), col("dst").as("c"))
      e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
        .select(col("a"), col("b"), col("c"))
    })

  /** Undirected co-purchase edge set shared by q140/q141 (support-
    * pruned, p1 < p2), cached once per (session, dir). */
  private[operators] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
    graft.sources.DfCache.df(spark, s"tri_edges|$dir")(
      a.join(b, Seq("l_orderkey"))
        .filter(col("p1") < col("p2"))
        .groupBy("p1", "p2")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= MinSupport)
        .select("p1", "p2"))
  }

  /** q141 — ADAMIC-ADAR link prediction (the classic graph-ML feature
    * for "customers who bought X also bought Y" candidate generation):
    * for every NON-adjacent pair at distance 2, score
    * Σ_{w ∈ commonNeighbors} 1/ln(deg(w)) — rare shared neighbors are
    * strong evidence, ubiquitous ones nearly none — and keep the
    * top 20.
    *
    * Shape: candidate pairs come from the same wedge join as q140
    * (und(a,w) ⋈ und(w,b), a<b), anti-joined against the edge set,
    * with deg(w) riding on the wedge-center row — so the whole feature
    * costs one self-join + one anti join + one groupBy, all bounded by
    * the wedge count the support threshold already controls — PLUS the
    * celebrity-hub discipline, applied for real: a node with degree >
    * [[HubDegreeCap]] never serves as a wedge CENTER. That is the
    * measure-aligned cut — Adamic-Adar itself weights a center by
    * 1/ln(deg), so the centers the cap drops are precisely the ones the
    * measure already calls near-noise, while the quadratic wedge term
    * (a hub of degree d mints C(d,2) wedges) disappears. Measured on
    * the 10x pseudo-sf1 corpus (baskets 10x wider, so the graph goes
    * dense): 73s uncapped → the capped run in SCALE.md; at sf0.01/0.1
    * the cap is INACTIVE (max degree < 64), so results there are
    * identical to the exact measure. A wedge center always has degree
    * ≥ 2, so 1/ln(deg) is finite. */
  def q141AdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    val und = edges.select(col("p1").as("a"), col("p2").as("w"))
      .unionAll(edges.select(col("p2").as("a"), col("p1").as("w")))
    // r15: the shared cached degree table (identical values — each
    // undirected edge contributes once per endpoint in both builds)
    val degrees = copurchaseDegrees(spark, dir)
    val centerDeg = degrees.filter(col("deg") <= HubDegreeCap)
      .select(col("node").as("w"), col("deg"))
    // filter und to capped centers BEFORE the self-join: the quadratic
    // term never materializes
    val undC = und.join(centerDeg.select(col("w")), Seq("w"), "left_semi")
    val wedges = undC
      .join(undC.select(col("w"), col("a").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
    val candidates = wedges
      .join(edges, wedges("a") === edges("p1") && wedges("b") === edges("p2"),
        "left_anti")
      .join(centerDeg, Seq("w"))
    candidates.groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("raw"))
      .select(col("a"), col("b"), col("n_common"),
        round(col("raw"), 6).as("adamic_adar"))
      .orderBy(desc("adamic_adar"), asc("a"), asc("b"))
      .limit(20)
  }

  /** q142's core order and peel rounds. Fixed rounds (not
    * run-to-convergence) so the DuckDB oracle can unroll the identical
    * recurrence; the `converged` output column proves the fixture
    * reached the true k-core within the budget. */
  private[graft] val CoreK = 3
  private[graft] val PeelRounds = 8

  /** q142 — K-CORE decomposition by synchronous peeling (graph
    * summarization / spam-ring detection: the maximal subgraph where
    * every node keeps ≥ k neighbors): each round recomputes degrees on
    * the surviving subgraph and drops nodes below [[CoreK]];
    * [[PeelRounds]] synchronous rounds, then the survivors and a
    * convergence flag (round R == round R-1) are reported.
    *
    * Shape per round: one groupBy (degrees of the surviving edge set)
    * and two semi-joins filtering the edge list — all key-partitioned
    * shuffles of a MONOTONICALLY SHRINKING edge set, the property that
    * makes peeling cheap at scale (most of the graph exits in the
    * first rounds). Same per-round localCheckpoint discipline as q138:
    * round k+1 references round k's edges twice (degree build + edge
    * filter), so an unchecked recurrence would re-analyze a 2^R-subtree
    * plan. The oracle unrolls the identical recurrence as generated
    * CTEs — exact, including the convergence flag (round R+0 vs R-1
    * survivor sets compared in SQL). */
  def q142KCore(spark: SparkSession, dir: String): DataFrame = {
    val edges0 = copurchaseEdges(spark, dir)
      .select(col("p1").as("a"), col("p2").as("b"))
    var edges = edges0.localCheckpoint()
    var prevNodes = -1L
    var lastNodes = -1L
    var round = 0
    // early exit at the fixed point: once two consecutive keep counts
    // agree (count equality IS set equality under monotone shrinkage),
    // every remaining round is a no-op, so stopping produces the exact
    // state the oracle's full unroll computes — peeling usually
    // converges in a handful of rounds, so this halves the job count
    while (round < PeelRounds && (round < 2 || prevNodes != lastNodes)) {
      round += 1
      val deg = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= CoreK).select("node")
      prevNodes = lastNodes
      lastNodes = keep.count()
      edges = edges
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
    }
    // keep sets shrink monotonically (edges only ever shrink, so
    // degrees and thus keeps do too): count equality across consecutive
    // rounds IS set equality, which makes the convergence flag exact
    edges.agg(count(lit(1)).as("core_edges"))
      .select(lit(lastNodes).as("core_nodes"), col("core_edges"),
        lit(prevNodes == lastNodes).as("converged"))
  }

  /** q285 top-k nodes reported. */
  private[graft] val ClusterTopK = 20

  /** q285 — LOCAL CLUSTERING COEFFICIENT: per node of the co-purchase
    * graph, 2·t_v / (deg_v·(deg_v−1)) — how close the node's
    * neighborhood is to a clique. q140 reports the GLOBAL transitivity
    * of the same graph; this is the node-grain view that finds the
    * tightly-knit pockets (ego-networks that are near-cliques), the
    * standard local feature for community seeding and anomaly scoring.
    * Top [[ClusterTopK]] by (coefficient, triangle count, degree, id).
    *
    * Shape: the SAME degree-ordered oriented wedge join as q140 (each
    * triangle closes exactly once, fan-out bounded by arboricity);
    * per-node counts come from exploding each closed triangle's three
    * corners — 3 rows per triangle, never a second pair pass. The
    * coefficient is one division of exact BIGINTs, ranked with full
    * tie-breaks. */
  def q285ClusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    // r15: degrees and the closed-triangle corners come from the shared
    // caches ([[copurchaseDegrees]], [[triangleCorners]]) — this query
    // and q140 each ran the identical degree build + orientation + the
    // two-join motif search; the corner table is triangle-count-sized,
    // so the per-query work left here is one explode + two node-keyed
    // aggregates. Counts are integers: output unchanged.
    val degrees = copurchaseDegrees(spark, dir)
    val triNodes = triangleCorners(spark, dir)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    degrees.filter(col("deg") >= 2)
      .join(triNodes, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("local_cc"))
      .orderBy(col("local_cc").desc, col("triangles").desc,
        col("deg").desc, col("node"))
      .limit(ClusterTopK)
  }

  /** `edges` of the supplier → part graph as oracle CTE text. */
  private[operators] val supplierPartEdgesCte: String =
    """edges AS (
      |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
      |         'p' || CAST(l_partkey AS VARCHAR) AS dst
      |  FROM lineitem)""".stripMargin

  /** Power-iteration round `i` over `edges`/`outdeg` as oracle CTEs:
    * the dangling mass `dang$i` of round `r${i-1}` and each node's
    * inflow `contrib$i`. PageRank (q138) and PPR (q143, [[Graph2]])
    * differ only in the `r$i` they form from them. */
  private[operators] def roundFlowCtes(i: Int): String = {
    val prev = s"r${i - 1}"
    s"""dang$i AS (
       |  SELECT COALESCE(sum(r), CAST(0 AS DOUBLE)) AS m
       |  FROM $prev LEFT JOIN outdeg USING (node)
       |  WHERE outdeg.d IS NULL),
       |contrib$i AS (
       |  SELECT e.dst AS node, sum(p.r / o.d) AS c
       |  FROM edges e
       |  JOIN $prev p ON e.src = p.node
       |  JOIN outdeg o ON e.src = o.node
       |  GROUP BY 1)""".stripMargin
  }

  /** The oracle generates one CTE per iteration — same recurrence,
    * mechanically unrolled. */
  private def pagerankSql: String = {
    val base =
      s"""WITH $supplierPartEdgesCte,
        |nodes AS (
        |  SELECT src AS node FROM edges
        |  UNION SELECT dst FROM edges),
        |outdeg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, (SELECT CAST(1 AS DOUBLE) / n FROM nc) AS r
        |       FROM nodes)""".stripMargin
    val iters = (1 to Iterations).map { i =>
      // MATERIALIZED: each round is referenced 2-3x (dang, contrib, and
      // — for the final two rounds — the converged delta), so DuckDB's
      // default CTE inlining would re-expand the whole prefix chain per
      // reference (the q142 kcore lesson; observed as a disk-filling
      // spill once the delta sub-select added a second r4 reference)
      s"""${roundFlowCtes(i)},
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |         (SELECT (1 - CAST(0.85 AS DOUBLE)) / n FROM nc)
         |         + CAST(0.85 AS DOUBLE) *
         |           (COALESCE(c.c, CAST(0 AS DOUBLE))
         |            + (SELECT m FROM dang$i) / (SELECT n FROM nc)) AS r
         |  FROM nodes LEFT JOIN contrib$i c USING (node))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$iters
       |SELECT node, round(r, 8) AS rank,
       |       (SELECT sum(abs(a.r - b.r)) < $ConvergenceEps
       |        FROM r$Iterations a JOIN r${Iterations - 1} b USING (node))
       |         AS converged
       |FROM r$Iterations
       |ORDER BY rank DESC, node LIMIT $TopK""".stripMargin
  }

  /** q142's oracle: the peel recurrence mechanically unrolled. */
  private def kcoreSql: String = {
    val base =
      s"""WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT p1 AS a, p2 AS b FROM pairs
        |       WHERE support >= $MinSupport)""".stripMargin
    val rounds = (1 to PeelRounds).map { r =>
      val prev = s"e${r - 1}"
      // MATERIALIZED: each CTE is referenced 2-3x by the next round,
      // so DuckDB's default inlining would expand e0 exponentially
      // (observed as "Too many open files" at R=8)
      s"""k$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT a AS node FROM $prev
         |    UNION ALL SELECT b FROM $prev)
         |  GROUP BY node HAVING count(*) >= $CoreK),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e
         |  WHERE EXISTS (SELECT 1 FROM k$r WHERE node = e.a)
         |    AND EXISTS (SELECT 1 FROM k$r WHERE node = e.b))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$rounds
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k$PeelRounds)
       |         AS core_nodes,
       |       (SELECT CAST(count(*) AS BIGINT) FROM e$PeelRounds)
       |         AS core_edges,
       |       (SELECT count(*) FROM k$PeelRounds) =
       |         (SELECT count(*) FROM k${PeelRounds - 1}) AS converged""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q138_pagerank", q138PageRank _, pagerankSql),
    // id-ordering suffices here: the triangle count is invariant under
    // any acyclic orientation, and nodes/edges/wedges are orientation-free
    QueryDef("q140_triangle_count", q140TriangleCount _,
      s"""WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= $MinSupport),
        |degrees AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT p1 AS node FROM edges
        |    UNION ALL SELECT p2 FROM edges) GROUP BY 1)
        |SELECT (SELECT count(*) FROM degrees) AS n_nodes,
        |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
        |        FROM degrees) AS n_wedges,
        |       (SELECT CAST(count(*) AS BIGINT)
        |        FROM edges e1 JOIN edges e2 ON e1.p2 = e2.p1
        |        JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
        |         AS n_triangles,
        |       round(CAST(3 AS DOUBLE) *
        |             (SELECT count(*)
        |              FROM edges e1 JOIN edges e2 ON e1.p2 = e2.p1
        |              JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) /
        |             (SELECT sum(deg * (deg - 1) // 2) FROM degrees), 6)
        |         AS clustering_coeff""".stripMargin),
    QueryDef("q141_adamic_adar", q141AdamicAdar _,
      s"""WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= $MinSupport),
        |und AS (
        |  SELECT p1 AS a, p2 AS w FROM edges
        |  UNION ALL SELECT p2, p1 FROM edges),
        |degrees AS (SELECT w AS node, count(*) AS deg FROM und GROUP BY 1),
        |centers AS (SELECT node, deg FROM degrees WHERE deg <= $HubDegreeCap),
        |undc AS (SELECT u.a, u.w FROM und u
        |         JOIN centers c ON c.node = u.w),
        |wedges AS (
        |  SELECT u1.a, u1.w, u2.a AS b
        |  FROM undc u1 JOIN undc u2 ON u1.w = u2.w AND u1.a < u2.a),
        |cand AS (
        |  SELECT wg.a, wg.b, wg.w FROM wedges wg
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                    WHERE e.p1 = wg.a AND e.p2 = wg.b))
        |SELECT c.a, c.b,
        |       count(*) AS n_common,
        |       round(sum(CAST(1 AS DOUBLE) / ln(d.deg)), 6) AS adamic_adar
        |FROM cand c JOIN centers d ON d.node = c.w
        |GROUP BY c.a, c.b
        |ORDER BY adamic_adar DESC, a, b LIMIT 20""".stripMargin),
    QueryDef("q142_kcore", q142KCore _, kcoreSql),
    QueryDef("q285_clustering_coefficient", q285ClusteringCoefficient _,
      s"""WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (SELECT p1, p2 FROM pairs WHERE support >= $MinSupport),
        |degrees AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT p1 AS node FROM edges
        |    UNION ALL SELECT p2 FROM edges) GROUP BY 1),
        |tri AS (
        |  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |  FROM edges e1 JOIN edges e2 ON e1.p2 = e2.p1
        |  JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |tri_nodes AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT d.node, d.deg,
        |       COALESCE(t.triangles, 0) AS triangles,
        |       round(CAST(2 AS DOUBLE) * COALESCE(t.triangles, 0)
        |             / (d.deg * (d.deg - 1)), 6) AS local_cc
        |FROM degrees d LEFT JOIN tri_nodes t USING (node)
        |WHERE d.deg >= 2
        |ORDER BY local_cc DESC, triangles DESC, deg DESC, node
        |LIMIT $ClusterTopK""".stripMargin))
}
