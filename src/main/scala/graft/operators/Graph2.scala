package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.sources.Tables

/** [EXT] seed-anchored graph analytics — the second half of the graph
  * family (q138/q140–q142 in [[Graph]]): personalized PageRank, HITS,
  * and multi-source BFS. These are the "trusted-seed expansion"
  * measures corpus curation runs on a link graph: start from a small
  * vetted seed set (curated domains, benchmark-adjacent pages) and
  * score every node by its proximity to the seeds — the published
  * shape behind seeded quality propagation in web-corpus pipelines
  * (cf. PAPERS.md: PageRank; Kleinberg's HITS; harmonic-centrality
  * curation in CCNet-style pipelines).
  *
  * All three reuse the graphs [[Graph]] already builds and caches:
  * PPR/HITS the bipartite supplier→part shipment graph
  * ([[Graph.shipmentEdges]] — every part node dangling, so PPR's
  * dangling-mass-to-seed redistribution is exercised on ~95% of the
  * mass), BFS the support-pruned part co-purchase graph
  * ([[Graph.copurchaseEdges]]). Oracles unroll the identical
  * recurrence as generated MATERIALIZED CTEs — exact differential
  * checks, not contracts (the q138/q142 discipline).
  */
object Graph2 {

  private val Damping = 0.85

  /** PPR iteration budget. Fixed (not run-to-convergence) so the
    * oracle's mechanical unroll stays the same recurrence; 4 rounds
    * is past the point where the top-20 ranking is stable on this
    * graph while keeping the oracle's materialized chain small. */
  private[graft] val PprIterations = 4

  /** Seed stride: supplier nodes with l_suppkey % PprSeedStride == 0
    * form the restart set — deterministic, SF-proportional (the seed
    * set grows with the supplier dimension, as a curated-domain list
    * grows with a corpus). */
  private[graft] val PprSeedStride = 10

  private val TopK = 20

  /** A sum of doubles that does not depend on the partition count: each
    * term is fixed to 36 decimal places and the terms add exactly in
    * DECIMAL, so every grouping and order of the partial sums gives the
    * same double. A plain double sum adds in partition order, and at
    * sf0.01 that order moved one PPR score across the `round(r, 8)`
    * boundary between 4 and 32 shuffle partitions. PPR terms are
    * probabilities (each sum is at most the total mass, 1), so the
    * DECIMAL(38, 36) sum cannot overflow. */
  private def exactSum(term: Column): Column =
    sum(term.cast(DecimalType(38, 36))).cast("double")

  /** q143 — PERSONALIZED PAGERANK (random walk with restart): PageRank
    * where ALL teleport mass — the (1-d) restart AND the dangling
    * redistribution — returns to a seed distribution instead of the
    * uniform vector. Scores are then "probability of being near a
    * seed", the seeded-expansion quality prior: documents (parts)
    * reachable only through seed suppliers inherit mass, everything
    * else decays to (near) zero.
    *
    * Scale shape per round = q138 exactly: one join of ranks to the
    * src-partitioned edge table, one contribution shuffle on dst, one
    * broadcast 1-row dangling aggregate, one localCheckpoint to keep
    * the recurrence plan flat. The seed vector rides as a column on
    * the node table (no extra join): s(v) = 1/|S| for seeds, else 0.
    * At 100 TB the same argument as q138 holds — the edge table is
    * laid out once, each round moves only the rank column. */
  def q143Ppr(spark: SparkSession, dir: String): DataFrame = {
    // q138's cached node table + a derived seed flag: the indicator
    // comes from the namespaced key itself, so the node table and the
    // seed set cannot drift apart — and no second union+distinct
    // shuffle or persisted node copy is paid (review r8 finding).
    val nodes = Graph.shipmentNodes(spark, dir)
      .withColumn("is_seed",
        col("node").startsWith("s") &&
          expr(s"CAST(substring(node, 2) AS BIGINT) % $PprSeedStride") === 0)
    // SHARED builder with q138 (r16, ADVICE r15: the r15 shape kept a
    // verbatim COPY of the builder under the shared cache key —
    // first-build-wins, so an edit to one copy would silently decide
    // what both queries see; now there is exactly one builder)
    val outdeg = Graph.shipmentOutdeg(spark, dir)
    // r15 re-plan, the q138 shape applied verbatim (stage profile: the
    // old round paid a broadcast-build job per round whose subtree
    // re-ran the r⋈outdeg join just to sum the dangling mass, PLUS the
    // same join again under the contribution arm — 52 stages for 4
    // rounds). The dangling SET is static, so its flag is computed
    // ONCE and rides every checkpointed round; the out-degree is
    // static, so the per-round contribution join reads the SHARED
    // pre-joined edge table (pr_edges_d — q138's cache, d riding the
    // src-partitioned edges); the dangling MASS and the L1 delta come
    // off ONE scalar aggregate scan of the fresh checkpoint and
    // re-enter the next round as driver-scalar literals. Arithmetic is
    // unchanged (same r/d terms into the same dst-keyed sum, same
    // (1−d)·s + d·(c + dm·s) update), so scores match the oracle's
    // unrolled recurrence at the registered rounding.
    val edgesD = Graph.shipmentEdgesD(spark, dir)
    val nSeeds = nodes.filter(col("is_seed")).count()
    require(nSeeds > 0, s"PPR seed set empty for $dir (stride $PprSeedStride)")

    // seed column: s(v) = 1/|S| on seeds, 0 elsewhere; dangling flag
    // joined once (static — a node never grows an out-edge mid-run)
    val withSeed = nodes
      .join(outdeg, Seq("node"), "left")
      .withColumn("dangling", col("d").isNull)
      .drop("d")
      .withColumn("s",
        when(col("is_seed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)))
    var r = withSeed.withColumn("r", col("s"))
    val dangMass =
      coalesce(exactSum(when(col("dangling"), col("r")).otherwise(0.0)),
        lit(0.0))
    var dm = r.agg(dangMass).collect()(0).getDouble(0)
    // Convergence gate, delta FOLDED into the round (VERDICT r09 #2):
    // the previous rank rides the round's node table as r_prev (the
    // prior round IS the node universe — same rows as withSeed), so the
    // L1 delta is a scan-only 1-row aggregate over the fresh checkpoint
    // instead of a per-round scores⋈prev-scores shuffle join. The early
    // exit fires only on delta == 0.0 — a TRUE bit-exact fixed point
    // (sum of |diffs| is 0 iff every diff is 0), so skipped rounds are
    // exact no-ops and the oracle's full unroll matches bit-for-bit
    // (ADVICE r09: `< eps` could in principle skip a sub-eps-moving
    // round). The output flag keeps the oracle's `< eps` semantics.
    var delta = Double.MaxValue
    var it = 0
    while (it < PprIterations && delta != 0.0) {
      val contribs = edgesD
        .join(r.filter(!col("dangling"))
          .select(col("node").as("src"), col("r")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(exactSum(col("r") / col("d")).as("c"))
      val next = r.select(col("node"), col("is_seed"), col("s"),
          col("dangling"), col("r").as("r_prev"))
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("is_seed"), col("s"), col("dangling"),
          col("r_prev"),
          (lit(1.0 - Damping) * col("s") +
            lit(Damping) *
              (coalesce(col("c"), lit(0.0)) + lit(dm) * col("s")))
            .as("r"))
        .localCheckpoint()
      // ONE scalar job per round returns BOTH per-round scalars: the
      // next round's dangling mass (needed every round) and the L1
      // delta — the delta VARIABLE still updates only on even rounds +
      // final, preserving the exact early-exit schedule above
      val row = next.agg(
        dangMass,
        coalesce(sum(abs(col("r") - col("r_prev"))), lit(0.0)))
        .collect()(0)
      dm = row.getDouble(0)
      if ((it + 1) % 2 == 0 || it + 1 == PprIterations)
        delta = row.getDouble(1)
      r = next.drop("r_prev")
      it += 1
    }
    r.select(col("node"), col("is_seed"), round(col("r"), 8).as("ppr"),
        lit(delta < Graph.ConvergenceEps).as("converged"))
      .filter(col("ppr") > 0)
      .orderBy(desc("ppr"), asc("node"))
      .limit(TopK)
  }

  /** HITS iteration budget — 3 full (authority, hub) sweeps; the
    * bipartite graph's scores stabilize in 2 (the odd/even structure
    * of a bipartite adjacency makes HITS converge on the singular
    * vectors fast), the third proves stability. */
  private[graft] val HitsIterations = 3
  private val HitsTopK = 10

  /** q144 — HITS (hubs & authorities): the mutual-reinforcement
    * recurrence a = Eᵀh, h = Ea with L2 normalization after each
    * half-step. On the bipartite shipment graph hubs are suppliers
    * (breadth of catalog shipped) and authorities are parts (breadth
    * of suppliers shipping them) — the classic query-dependent
    * link-analysis pair, and the bipartite fixture is the shape HITS
    * was defined on.
    *
    * Scale shape per half-step (re-planned round 15 after a stage
    * profile): one join of scores to the src-partitioned edge table +
    * one groupBy shuffle on the opposite key, materialized ONCE as a
    * localCheckpoint of the RAW aggregate; the L2 norm then comes off
    * that checkpoint as a 1-row driver scalar (one tiny scan-only
    * job) and rides back into the plan as a LITERAL divisor — the
    * q138 scalar-per-round discipline. The previous shape normalized
    * via crossJoin(broadcast(norm)) BEFORE checkpointing, which paid
    * a separate broadcast-build job per half-step that re-ran the
    * aggregate subtree (the profile showed ~14 stages/sweep, half of
    * them duplicate 0.2-0.3 s broadcast builds); the checkpoint-first
    * shape computes each half-step's shuffle exactly once. Dividing
    * by a collected literal is bit-identical to dividing by the
    * broadcast row — same double, same per-row operation — and the
    * norm's sum runs over the same checkpoint partition order the
    * broadcast aggregate consumed, so scores and hashes are
    * unchanged. */
  def q144Hits(spark: SparkSession, dir: String): DataFrame = {
    val edges = Graph.shipmentEdges(spark, dir)
    val hubs0 = edges.select(col("src").as("node")).distinct()
      .repartition(col("node"))
    // h/a are NORMALIZED views over the raw checkpoints (lazy literal
    // division — never re-materialized)
    var h = hubs0.withColumn("h", lit(1.0))
    var a: DataFrame = null
    // Convergence gate (VERDICT r09 #2): the L1 delta is a tiny
    // node-table join of this sweep's and the previous sweep's
    // normalized views (both lazy selects over checkpoints). Early
    // exit only on delta == 0.0, a TRUE bit-exact fixed point, so
    // skipped sweeps are exact no-ops and the oracle's full unroll
    // matches bit-for-bit (ADVICE r09). The output flag keeps `< eps`.
    var delta = Double.MaxValue
    var it = 0
    while (it < HitsIterations && delta != 0.0) {
      val araw = edges.join(h.select(col("node").as("src"), col("h")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h")).as("a"))
        .localCheckpoint()
      // norm over the RAW aggregate's checkpoint (stored partition
      // order == the aggregate's own output order, so the float sum
      // keeps its exact order for the cross-engine hash)
      val aNrm = araw.agg(sqrt(sum(col("a") * col("a"))))
        .collect()(0).getDouble(0)
      a = araw.select(col("node"), (col("a") / lit(aNrm)).as("a"))
      val hagg = edges.join(a.select(col("node").as("dst"), col("a")),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("a")).as("h"))
        .localCheckpoint()
      val hNrm = hagg.agg(sqrt(sum(col("h") * col("h"))))
        .collect()(0).getDouble(0)
      val hPrev = h
      h = hagg.select(col("node"), (col("h") / lit(hNrm)).as("h"))
      // even rounds + final only — same rationale as q143; the join is
      // node-table-sized (two checkpoint scans), row-preserving (hub
      // nodes == distinct srcs on both sides every sweep)
      if ((it + 1) % 2 == 0 || it + 1 == HitsIterations)
        delta = h
          .join(hPrev.select(col("node"), col("h").as("h_prev")),
            Seq("node"))
          .agg(coalesce(sum(abs(col("h") - col("h_prev"))), lit(0.0)))
          .collect()(0).getDouble(0)
      it += 1
    }
    val conv = lit(delta < Graph.ConvergenceEps).as("converged")
    val topA = a.select(lit("authority").as("kind"), col("node"),
        round(col("a"), 8).as("score"), conv)
      .orderBy(desc("score"), asc("node")).limit(HitsTopK)
    val topH = h.select(lit("hub").as("kind"), col("node"),
        round(col("h"), 8).as("score"), conv)
      .orderBy(desc("score"), asc("node")).limit(HitsTopK)
    topA.unionAll(topH).orderBy(asc("kind"), desc("score"), asc("node"))
  }

  /** The co-purchase graph as a u-partitioned adjacency list, both
    * orientations of every edge (u, v), cached per (session, dir) and
    * shared by q145 and q152. */
  private def undirectedCopurchase(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"bfs_und|$dir") {
      val edges = Graph.copurchaseEdges(spark, dir)
      edges.select(col("p1").as("u"), col("p2").as("v"))
        .unionAll(edges.select(col("p2").as("u"), col("p1").as("v")))
        .repartition(col("u"))
    }

  /** BFS round budget and seed stride (part keys % stride == 0). Four
    * synchronous rounds: hop histogram out to distance 4, everything
    * beyond reported as unreached (-1) — the "how far is the corpus
    * from the trusted core" diagnostic. */
  private[graft] val BfsRounds = 4
  private[graft] val BfsSeedStride = 50

  /** q145 — MULTI-SOURCE BFS hop distance from a seed set over the
    * undirected co-purchase graph, reported as a hop histogram. The
    * integer-exact sibling of q143: where PPR scores proximity
    * continuously, BFS buckets it — dist(v) = min hops to any seed,
    * computed by `BfsRounds` synchronous relaxation rounds (the
    * standard iterative frontier expansion, expressed as joins so the
    * whole sweep is shuffle-parallel).
    *
    * Scale shape per round: one join of the current distance table to
    * the undirected edge list (partitioned on the join key) + one
    * min-groupBy — a monotonically-NONGROWING distance table (nodes
    * only ever improve), localCheckpoint per round (q142's peeling
    * discipline). The relaxation is exact integer math end-to-end, so
    * the oracle unroll matches bit-for-bit with no rounding argument
    * needed. */
  def q145BfsReach(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCopurchase(spark, dir)
    // read twice: the seed set and the final left join
    val nodes = und.select(col("u").as("node")).distinct()
      .repartition(col("node")).localCheckpoint()
    var dist = nodes.filter(col("node") % BfsSeedStride === 0)
      .select(col("node"), lit(0).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to BfsRounds) {
      val relaxed = und
        .join(dist.select(col("node").as("u"), col("dist")), Seq("u"))
        .select(col("v").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    nodes.join(dist, Seq("node"), "left")
      .select(coalesce(col("dist"), lit(-1)).as("hop"))
      .groupBy("hop").agg(count(lit(1)).as("n_nodes"))
      .orderBy("hop")
  }

  /** q152's shape: one walk per seed node (part keys % stride == 0),
    * `WalkSteps` hops. */
  private[graft] val WalkSteps = 4
  private[graft] val WalkSeedStride = 10

  /** q152 — RANDOM-WALK CORPUS GENERATION (the DeepWalk/node2vec
    * pre-step: walks become the "sentences" a skip-gram embedding
    * trains on) over the undirected co-purchase graph, made fully
    * DETERMINISTIC: at each step the walker moves to the neighbor
    * with the minimum salted 60-bit hash of (walk, step, neighbor) —
    * a hash-race instead of rand() (the q112/q131 discipline), so the
    * corpus is reproducible under repartitioning and retries, and the
    * DuckDB oracle replays the identical walks hop by hop.
    *
    * Scale shape: each hop is ONE join of the frontier against the
    * (u-partitioned, cached) adjacency list plus a per-walk argmin —
    * shuffle cost proportional to frontier x avg-degree per hop, the
    * standard distributed walk-generation layout; walks never leave
    * the cluster and the path string builds incrementally. At 100 TB
    * walk count scales with the node budget, not edges. */
  def q152WalkCorpus(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedCopurchase(spark, dir)
    var cur = und.select(col("u").as("walk")).distinct()
      .filter(col("walk") % WalkSeedStride === 0)
      .select(col("walk"), col("walk").as("node"),
        col("walk").cast("string").as("path"))
    for (step <- 1 to WalkSteps) {
      val cand = cur.join(und, cur("node") === und("u"))
        .select(col("walk"), col("path"), col("v"),
          graft.functions.Hashing.md5Hash60(
            concat(lit("walk:"), col("walk"), lit(":"), lit(step),
              lit(":"), col("v"))).as("h"))
      cur = cand.groupBy("walk")
        .agg(min_by(struct(col("v"), col("path")),
          struct(col("h"), col("v"))).as("pick"))
        .select(col("walk"), col("pick.v").as("node"),
          concat(col("pick.path"), lit("-"),
            col("pick.v").cast("string")).as("path"))
    }
    cur.select(col("walk"), col("node").as("end_node"), col("path"))
      .orderBy("walk")
  }

  /** q195 parameters: relaxation rounds (bounded-hop semantics) and
    * the weight numerator (cost = WeightNum div support, so heavily
    * co-purchased links are cheap — ≥1 always, exact integer). */
  private[graft] val SsspRounds = 4
  private[graft] val WeightNum = 1000L

  /** q195 — bounded-hop weighted SSSP (Bellman–Ford relaxation): the
    * cheapest ≤[[SsspRounds]]-hop cost from the smallest part key to
    * every reachable part over the co-purchase graph, edge cost
    * inversely tied to support ([[WeightNum]] div support) — the
    * weighted companion to q145's unweighted hop BFS, the
    * "recommendation distance" metric. Per round ONE edges⋈dist join
    * + a min fold; dist only ever improves (min-monotone), rounds are
    * data-independent (bounded-hop is the DECLARED semantics, so the
    * oracle unrolls exactly [[SsspRounds]] materialized CTE rounds);
    * per-round localCheckpoint flattens the recurrence (the q138/q142
    * lesson). Output folds to a cost-decile histogram + exact total,
    * so the result is audit-sized at any graph scale. */
  def q195WeightedSssp(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val sup = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
        Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    // every round reads the edge list
    val edges = sup.select(col("p1").as("u"), col("p2").as("v"),
        expr(s"$WeightNum div support").as("w"))
      .unionAll(sup.select(col("p2").as("u"), col("p1").as("v"),
        expr(s"$WeightNum div support").as("w")))
      .repartition(col("u"))
      .localCheckpoint()
    val src = edges.agg(min(col("u")).as("src"))
    var dist = edges.crossJoin(broadcast(src))
      .filter(col("u") === col("src"))
      .select(col("u").as("node"), lit(0L).as("cost"))
      .distinct()
      .localCheckpoint()
    for (_ <- 1 to SsspRounds) {
      val relaxed = edges
        .join(dist.select(col("node").as("u"), col("cost")), Seq("u"))
        .select(col("v").as("node"), (col("cost") + col("w")).as("cost"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min(col("cost")).as("cost"))
        .localCheckpoint()
    }
    dist
      .select((col("cost") / 100L).cast("long").as("cost_bucket"),
        col("cost"))
      .groupBy("cost_bucket")
      .agg(count(lit(1)).as("n_nodes"), sum(col("cost")).as("total_cost"),
        min(col("cost")).as("min_cost"), max(col("cost")).as("max_cost"))
      .orderBy("cost_bucket")
  }

  /** PPR oracle: one MATERIALIZED CTE per round (each round is
    * referenced twice — dangling + contributions — so DuckDB's default
    * CTE inlining would re-expand the prefix chain per reference; the
    * q138/q142 lesson). */
  private def pprSql: String = {
    val base =
      s"""WITH ${Graph.supplierPartEdgesCte},
        |nodes AS (
        |  SELECT node,
        |         node LIKE 's%' AND
        |           CAST(substr(node, 2) AS BIGINT) % $PprSeedStride = 0
        |           AS is_seed
        |  FROM (SELECT src AS node FROM edges
        |        UNION SELECT dst FROM edges)),
        |outdeg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY 1),
        |sv AS (SELECT node, is_seed,
        |              CASE WHEN is_seed
        |                   THEN CAST(1 AS DOUBLE) /
        |                        (SELECT count(*) FROM nodes WHERE is_seed)
        |                   ELSE CAST(0 AS DOUBLE) END AS s
        |       FROM nodes),
        |r0 AS (SELECT node, is_seed, s, s AS r FROM sv)""".stripMargin
    val iters = (1 to PprIterations).map { i =>
      s"""${Graph.roundFlowCtes(i)},
         |r$i AS MATERIALIZED (
         |  SELECT sv.node, sv.is_seed, sv.s,
         |         (1 - CAST($Damping AS DOUBLE)) * sv.s
         |         + CAST($Damping AS DOUBLE) *
         |           (COALESCE(c.c, CAST(0 AS DOUBLE))
         |            + (SELECT m FROM dang$i) * sv.s) AS r
         |  FROM sv LEFT JOIN contrib$i c USING (node))""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$iters
       |SELECT node, is_seed, round(r, 8) AS ppr,
       |       (SELECT sum(abs(a.r - b.r)) < ${Graph.ConvergenceEps}
       |        FROM r$PprIterations a
       |        JOIN r${PprIterations - 1} b USING (node)) AS converged
       |FROM r$PprIterations
       |WHERE round(r, 8) > 0
       |ORDER BY ppr DESC, node LIMIT $TopK""".stripMargin
  }

  /** HITS oracle: two MATERIALIZED CTEs (authority, hub) per sweep. */
  private def hitsSql: String = {
    val base =
      s"""WITH ${Graph.supplierPartEdgesCte},
        |h0 AS (SELECT DISTINCT src AS node, CAST(1 AS DOUBLE) AS h
        |       FROM edges)""".stripMargin
    val iters = (1 to HitsIterations).map { i =>
      val prevH = s"h${i - 1}"
      s"""araw$i AS (
         |  SELECT e.dst AS node, sum(p.h) AS a
         |  FROM edges e JOIN $prevH p ON e.src = p.node
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (
         |  SELECT node, a / (SELECT sqrt(sum(a * a)) FROM araw$i) AS a
         |  FROM araw$i),
         |hraw$i AS (
         |  SELECT e.src AS node, sum(p.a) AS h
         |  FROM edges e JOIN a$i p ON e.dst = p.node
         |  GROUP BY 1),
         |h$i AS MATERIALIZED (
         |  SELECT node, h / (SELECT sqrt(sum(h * h)) FROM hraw$i) AS h
         |  FROM hraw$i)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$iters,
       |conv AS (
       |  SELECT sum(abs(a.h - b.h)) < ${Graph.ConvergenceEps} AS converged
       |  FROM h$HitsIterations a
       |  JOIN h${HitsIterations - 1} b USING (node))
       |SELECT kind, node, score, (SELECT converged FROM conv) AS converged
       |FROM (
       |  (SELECT 'authority' AS kind, node, round(a, 8) AS score
       |   FROM a$HitsIterations ORDER BY score DESC, node LIMIT $HitsTopK)
       |  UNION ALL
       |  (SELECT 'hub' AS kind, node, round(h, 8) AS score
       |   FROM h$HitsIterations ORDER BY score DESC, node LIMIT $HitsTopK))
       |ORDER BY kind ASC, score DESC, node ASC""".stripMargin
  }

  /** The co-purchase graph q145 and q152 walk, as oracle CTEs: part
    * pairs sharing at least [[Graph.MinSupport]] orders `edges` (p1,
    * p2) and both directions of each `und` (u, v). */
  private val coPurchaseCtes: String =
    s"""pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |edges AS (SELECT p1, p2 FROM pairs
      |          WHERE support >= ${Graph.MinSupport}),
      |und AS (SELECT p1 AS u, p2 AS v FROM edges
      |        UNION ALL SELECT p2, p1 FROM edges)""".stripMargin

  /** BFS oracle: one MATERIALIZED distance CTE per round — exact
    * integer relaxation, bit-identical by construction. */
  private def bfsSql: String = {
    val base =
      s"""WITH $coPurchaseCtes,
        |nodes AS (SELECT DISTINCT u AS node FROM und),
        |d0 AS (SELECT node, 0 AS dist FROM nodes
        |       WHERE node % $BfsSeedStride = 0)""".stripMargin
    val rounds = (1 to BfsRounds).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT u.v AS node, p.dist + 1 AS dist
         |    FROM und u JOIN $prev p ON u.u = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$rounds
       |SELECT COALESCE(d.dist, -1) AS hop,
       |       CAST(count(*) AS BIGINT) AS n_nodes
       |FROM nodes n LEFT JOIN d$BfsRounds d USING (node)
       |GROUP BY 1 ORDER BY hop""".stripMargin
  }

  /** q152 oracle: the walk recurrence unrolled — per hop, the same
    * salted-hash argmin over the frontier's neighbors. */
  private def walkSql: String = {
    val base =
      s"""WITH $coPurchaseCtes,
        |s0 AS (SELECT DISTINCT u AS walk, u AS node,
        |              CAST(u AS VARCHAR) AS path
        |       FROM und WHERE u % $WalkSeedStride = 0)""".stripMargin
    val steps = (1 to WalkSteps).map { i =>
      val prev = s"s${i - 1}"
      s"""s$i AS MATERIALIZED (
         |  SELECT walk, v AS node, path || '-' || CAST(v AS VARCHAR) AS path
         |  FROM (
         |    SELECT w.walk, w.path, u.v,
         |           row_number() OVER (PARTITION BY w.walk
         |             ORDER BY ('0x' || substr(md5(
         |                 'walk:' || CAST(w.walk AS VARCHAR) || ':$i:' ||
         |                 CAST(u.v AS VARCHAR)), 1, 15))::BIGINT,
         |               u.v) AS rn
         |    FROM $prev w JOIN und u ON u.u = w.node)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$steps
       |SELECT walk, node AS end_node, path
       |FROM s$WalkSteps ORDER BY walk""".stripMargin
  }

  /** q195 oracle: the Bellman–Ford relaxation unrolled into exactly
    * [[SsspRounds]] materialized min-fold rounds (bounded-hop cost is
    * the DECLARED semantics, so the unroll is exact, not a contract). */
  private def ssspSql: String = {
    val base =
      s"""WITH sup AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS MATERIALIZED (
        |  SELECT p1 AS u, p2 AS v, $WeightNum // support AS w FROM sup
        |  UNION ALL
        |  SELECT p2, p1, $WeightNum // support FROM sup),
        |src AS (SELECT min(u) AS s FROM edges),
        |d0 AS (SELECT (SELECT s FROM src) AS node,
        |              CAST(0 AS BIGINT) AS cost)""".stripMargin
    val rounds = (1 to SsspRounds).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT node, min(cost) AS cost FROM (
         |    SELECT node, cost FROM $prev
         |    UNION ALL
         |    SELECT e.v AS node, p.cost + e.w AS cost
         |    FROM edges e JOIN $prev p ON e.u = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$rounds
       |SELECT cost // 100 AS cost_bucket,
       |       count(*) AS n_nodes,
       |       CAST(sum(cost) AS BIGINT) AS total_cost,
       |       min(cost) AS min_cost, max(cost) AS max_cost
       |FROM d$SsspRounds GROUP BY 1 ORDER BY cost_bucket""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q143_ppr", q143Ppr _, pprSql),
    QueryDef("q144_hits", q144Hits _, hitsSql),
    QueryDef("q145_bfs_reach", q145BfsReach _, bfsSql),
    QueryDef("q152_walk_corpus", q152WalkCorpus _, walkSql),
    QueryDef("q195_weighted_sssp", q195WeightedSssp _, ssspSql))
}
