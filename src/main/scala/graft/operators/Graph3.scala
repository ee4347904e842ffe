package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] community detection (q266): synchronous label propagation
  * (LPA, Raghavan et al. 2007 — PAPERS.md) over the undirected
  * supplier–part shipment graph shared with q138/q143/q144 — the
  * CLUSTER-level view the node-level graph family doesn't give:
  * PageRank ranks nodes, connected components (q162) finds reachable
  * islands, LPA finds the dense sub-markets INSIDE one giant
  * component ("which suppliers and parts trade mostly with each
  * other?"), the partition a data-mix designer uses to cap a
  * community's share the way q146 caps a domain's.
  *
  * Determinism (LPA is notoriously order-dependent; this one is not):
  * SYNCHRONOUS rounds (every node updates from the previous round's
  * labels, never a mix), min-label tie-break on equal neighbor-mode
  * counts, string node-id initial labels — every round is a pure
  * function of the last, so Spark and the unrolled DuckDB oracle
  * agree bit-exactly. Fixed [[LpaRounds]] rounds (the q143/q144
  * bounded-unroll discipline — an oracle cannot express run-to-
  * convergence, and bounded rounds are the production form anyway).
  *
  * Scale shape: per round ONE join of the label table to the
  * hash-partitioned undirected edge list (static side never
  * re-shuffles — the q138 layout) + one (node, label) count + one
  * min-by fold; localCheckpoint flattens the recurrence. Per-round
  * cost is linear in |E|; no window ever sees the edge list. */
object Graph3 {

  /** Synchronous LPA rounds (fixed-unroll, mirrored in the oracle). */
  private[graft] val LpaRounds = 4

  /** Communities reported (largest first). */
  private[graft] val LpaTopK = 20

  /** The shipment graph as a node-partitioned (node, nbr) list, both
    * orientations of every edge, cached per (session, dir) and shared
    * by q266 and q269. */
  private def undirectedShipment(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"lpa_und|$dir") {
      val edges = Graph.shipmentEdges(spark, dir)
      edges.select(col("src").as("node"), col("dst").as("nbr"))
        .union(edges.select(col("dst").as("node"), col("src").as("nbr")))
        .repartition(col("node"))
    }

  /** q266 — top-[[LpaTopK]] LPA communities after [[LpaRounds]]
    * synchronous rounds: community label, member count, supplier/part
    * split. */
  def q266LpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedShipment(spark, dir)
    var labels = Graph.shipmentNodes(spark, dir)
      .withColumn("label", col("node"))
    for (_ <- 1 to LpaRounds) {
      // r15: join the STATIC cached side on its own partition key. The
      // cache is hash-partitioned by `node`, but the round needs each
      // node's NEIGHBORS' labels — joining on `nbr` re-shuffled the
      // whole edge table every round (measured: 4 × ~7.5 s taskSum
      // 64-task exchanges at sf0.1, the largest stages in the query).
      // The table is symmetric (both orientations present), so reading
      // a row (node, nbr) as "node's label flows to nbr" is the SAME
      // multiset of (receiver, neighbor-label) pairs — join labels on
      // `node` (exchange-free on the cached side), then group by the
      // receiving endpoint `nbr`. Counts are integers and the min_by
      // tie-break is total, so the result is bit-identical.
      // shuffle_hash on the label side: both sides are already
      // hash-partitioned on `node`, so the hint turns the default
      // sort-merge (which would re-SORT the cached edge partitions
      // every round) into a per-partition hash build of the small
      // label table — no exchange, no sort, streaming probe of the
      // static side. Never a broadcast: the label table is
      // node-count-sized (the r14 broadcast(sizes) lesson).
      labels = und
        .join(labels.select(col("node"), col("label").as("nbr_label"))
          .hint("shuffle_hash"), Seq("node"))
        .groupBy(col("nbr").as("node"), col("nbr_label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(min_by(col("nbr_label"),
          struct((col("cnt") * -1L).as("nc"), col("nbr_label")))
          .as("label"))
        .localCheckpoint()
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(substring(col("node"), 1, 1) === "s", 1L).otherwise(0L))
          .as("n_suppliers"),
        sum(when(substring(col("node"), 1, 1) === "p", 1L).otherwise(0L))
          .as("n_parts"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(LpaTopK)
  }

  /** q269 — DEGREE ASSORTATIVITY (Newman's r) of the undirected
    * shipment graph: the Pearson correlation of endpoint degrees over
    * edges — the one-number wiring-topology audit behind every graph
    * operator's cost model: assortative graphs (hubs wire to hubs)
    * concentrate triangle/wedge work (q140) and shuffle skew (q75's
    * subject) in a dense core, disassortative ones (hub-to-leaf, the
    * typical bipartite market shape) spread it. Run before sizing
    * q138/q266 partitioning at a new scale.
    *
    * Exactness: degrees and all three sufficient statistics (Σjk, Σj,
    * Σj²) fold as exact BIGINTs over the 2|E| orientation rows (both
    * orientations — the standard undirected convention, which makes
    * Σj = Σk by symmetry and r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²));
    * the final products are formed in doubles from the exact scalars
    * (the q227 moment-product rule — M·Σjk overflows int64 at scale)
    * with the parenthesization mirrored verbatim. NULL when the
    * degree distribution is constant (zero variance — no correlation
    * defined). */
  def q269Assortativity(spark: SparkSession, dir: String): DataFrame = {
    val und = undirectedShipment(spark, dir)
    val deg = und.groupBy("node").agg(count(lit(1)).as("deg"))
    val stats = und
      .join(deg, Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("deg").as("kdeg")),
        Seq("nbr"))
      .agg(count(lit(1)).as("m"),
        sum(col("deg")).as("s_j"),
        sum(col("deg") * col("deg")).as("s_j2"),
        sum(col("deg") * col("kdeg")).as("s_jk"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"))
    stats.crossJoin(broadcast(nodeStats))
      .select(col("n_nodes"), expr("m div 2").as("n_edges"),
        col("max_degree"), col("s_jk"), col("s_j"), col("s_j2"),
        when(col("m").cast("double") * col("s_j2").cast("double") -
          col("s_j").cast("double") * col("s_j").cast("double") =!= 0.0,
          round((col("m").cast("double") * col("s_jk").cast("double") -
            col("s_j").cast("double") * col("s_j").cast("double")) /
            (col("m").cast("double") * col("s_j2").cast("double") -
              col("s_j").cast("double") * col("s_j").cast("double")), 6))
          .as("assortativity"))
  }

  /** q292 — CATEGORICAL (brand) HOMOPHILY of the co-purchase graph:
    * Newman's attribute assortativity r = (Σᵢeᵢᵢ − Σᵢaᵢbᵢ)/(1 − Σᵢaᵢbᵢ)
    * over the brand×brand edge-mixing matrix — "do same-brand parts
    * co-purchase MORE than their popularity predicts?" q269 answers
    * the DEGREE version of this question; this is the attribute
    * version a merchandiser or a curriculum designer asks (homophilic
    * categories ⇒ within-category negative sampling is too easy). The
    * observed same-brand edge share is compared against the chance
    * expectation Σ(endpoint-share)², and r rescales the excess to
    * [−1, 1].
    *
    * Exactness: edge counts and per-brand ENDPOINT degrees fold as
    * exact BIGINTs (Σd² in decimal(38) — the q274 rule); eᵢᵢ, the
    * chance term and r are fixed double expressions over them,
    * mirrored verbatim. NULL when chance = 1 (single brand — no
    * homophily defined).
    *
    * Scale shape: the same [[Graph.copurchaseEdges]] artifact as
    * q140/q285 (content-keyed, support-pruned), two AQE-planned brand
    * lookups (part scales with SF — no forced broadcast), then
    * everything is a brand-grain (≤ |brands|) fold. */
  def q292BrandHomophily(spark: SparkSession, dir: String): DataFrame = {
    // brand lookups UNHINTED (r16, VERDICT r15 #1 class): part is an
    // SF-scaling dimension, so the strategy is AQE's pick (broadcast
    // while small, shuffle beyond — the SCALE.md dims rule)
    val brands = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val e = Graph.copurchaseEdges(spark, dir)
      .join(brands.select(col("p_partkey").as("p1"),
        col("p_brand").as("b1")), Seq("p1"))
      .join(brands.select(col("p_partkey").as("p2"),
        col("p_brand").as("b2")), Seq("p2"))
    val m = e.agg(count(lit(1)).as("n_edges"),
      sum(when(col("b1") === col("b2"), 1L).otherwise(0L)).as("same"))
    val degb = e.select(explode(array(col("b1"), col("b2"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_brands"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sumd2"))
    val eii = col("same").cast("double") / col("n_edges")
    val m2 = lit(2.0) * col("n_edges")
    val chance = col("sumd2").cast("double") / (m2 * m2)
    m.crossJoin(broadcast(degb))
      .select(col("n_edges"), col("n_brands"),
        col("same").as("same_brand_edges"),
        round(eii, 6).as("same_frac"),
        round(chance, 6).as("expected_frac"),
        when(chance =!= 1.0,
          round((eii - chance) / (lit(1.0) - chance), 6))
          .as("homophily"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q266_lpa_communities", q266LpaCommunities _, lpaSql),
    QueryDef("q269_assortativity", q269Assortativity _,
      s"""WITH ${Graph.supplierPartEdgesCte},
        |und AS MATERIALIZED (
        |  SELECT src AS node, dst AS nbr FROM edges
        |  UNION ALL SELECT dst, src FROM edges),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(dj.deg) AS BIGINT) AS s_j,
        |         CAST(sum(dj.deg * dj.deg) AS BIGINT) AS s_j2,
        |         CAST(sum(dj.deg * dk.deg) AS BIGINT) AS s_jk
        |  FROM und u
        |  JOIN deg dj ON dj.node = u.node
        |  JOIN deg dk ON dk.node = u.nbr),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(max(deg) AS BIGINT) AS max_degree FROM deg)
        |SELECT ns.n_nodes, stats.m // 2 AS n_edges, ns.max_degree,
        |       stats.s_jk, stats.s_j, stats.s_j2,
        |       CASE WHEN CAST(stats.m AS DOUBLE) * CAST(stats.s_j2 AS DOUBLE)
        |                 - CAST(stats.s_j AS DOUBLE) * CAST(stats.s_j AS DOUBLE)
        |                 <> 0.0
        |            THEN round((CAST(stats.m AS DOUBLE)
        |                   * CAST(stats.s_jk AS DOUBLE)
        |                   - CAST(stats.s_j AS DOUBLE)
        |                     * CAST(stats.s_j AS DOUBLE))
        |                 / (CAST(stats.m AS DOUBLE)
        |                    * CAST(stats.s_j2 AS DOUBLE)
        |                    - CAST(stats.s_j AS DOUBLE)
        |                      * CAST(stats.s_j AS DOUBLE)), 6)
        |       END AS assortativity
        |FROM stats CROSS JOIN ns""".stripMargin),
    QueryDef("q292_brand_homophily", q292BrandHomophily _,
      s"""WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT p1, p2 FROM pairs WHERE support >= ${Graph.MinSupport}),
        |be AS (
        |  SELECT pa.p_brand AS b1, pb.p_brand AS b2
        |  FROM edges e
        |  JOIN part pa ON pa.p_partkey = e.p1
        |  JOIN part pb ON pb.p_partkey = e.p2),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |         CAST(sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS same
        |  FROM be),
        |degb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_brands,
        |         sum(d * d) AS sumd2
        |  FROM (SELECT b, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT b1 AS b FROM be
        |              UNION ALL SELECT b2 FROM be)
        |        GROUP BY 1))
        |SELECT m.n_edges, degb.n_brands, m.same AS same_brand_edges,
        |       round(CAST(m.same AS DOUBLE) / m.n_edges, 6) AS same_frac,
        |       round(CAST(degb.sumd2 AS DOUBLE)
        |             / ((2.0 * m.n_edges) * (2.0 * m.n_edges)), 6)
        |         AS expected_frac,
        |       CASE WHEN CAST(degb.sumd2 AS DOUBLE)
        |                 / ((2.0 * m.n_edges) * (2.0 * m.n_edges)) <> 1.0
        |            THEN round((CAST(m.same AS DOUBLE) / m.n_edges
        |                        - CAST(degb.sumd2 AS DOUBLE)
        |                          / ((2.0 * m.n_edges) * (2.0 * m.n_edges)))
        |                       / (1.0 - CAST(degb.sumd2 AS DOUBLE)
        |                          / ((2.0 * m.n_edges) * (2.0 * m.n_edges))),
        |                       6)
        |       END AS homophily
        |FROM m, degb""".stripMargin))

  /** The synchronous recurrence mechanically unrolled (the q138/q142
    * idiom); MATERIALIZED because each round is referenced by the
    * next round's count AND the pick. */
  private def lpaSql: String = {
    val base =
      s"""WITH ${Graph.supplierPartEdgesCte},
        |und AS MATERIALIZED (
        |  SELECT src AS node, dst AS nbr FROM edges
        |  UNION ALL SELECT dst, src FROM edges),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT node, node AS label FROM und)""".stripMargin
    val rounds = (1 to LpaRounds).map { i =>
      val prev = s"l${i - 1}"
      s"""c$i AS (
         |  SELECT u.node, p.label, count(*) AS cnt
         |  FROM und u JOIN $prev p ON p.node = u.nbr
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |           row_number() OVER (PARTITION BY node
         |             ORDER BY cnt DESC, label) AS rn
         |    FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""$base$rounds
       |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |       CAST(sum(CASE WHEN substr(node, 1, 1) = 's' THEN 1
       |                     ELSE 0 END) AS BIGINT) AS n_suppliers,
       |       CAST(sum(CASE WHEN substr(node, 1, 1) = 'p' THEN 1
       |                     ELSE 0 END) AS BIGINT) AS n_parts
       |FROM l$LpaRounds GROUP BY 1
       |ORDER BY n_nodes DESC, community LIMIT $LpaTopK""".stripMargin
  }
}
