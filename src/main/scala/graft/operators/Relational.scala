package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Reference-parity relational surface (SURVEY.md §2.12), re-expressed over
  * the driver testdata star schema with the role mapping of SURVEY.md §7.1:
  * salestxn->lineitem/orders, products->part, customers->customer,
  * reps->supplier, country->nation.
  *
  * Architecture note (SURVEY.md §4.1): the reference's load-bearing idea is a
  * two-layer warehouse — base fact tables plus *materialized aggregate facts*
  * (`product_facts` / `rep_facts`, reference `LoadDataWarehouse.ChatterjeeP.R:90-104,118-133`)
  * that analytics queries re-aggregate (sound because SUM is decomposable).
  * We keep that shape: `productFacts` / `repFacts` build the aggregate-fact
  * DataFrames (one shuffle each), and the DW/Rmd analogues re-aggregate them.
  *
  * Scale design: the fact scan (lineitem) is the 100 TB side — every query
  * here aggregates it with partial (map-side) aggregation before the single
  * shuffle on the group keys. Genuinely small dims (nation: 25 rows, region:
  * 5) are broadcast explicitly; SF-scaled dims (part, customer, supplier,
  * orders) are left to AQE, which broadcasts them while they fit and falls
  * back to shuffle join at scale. No collect()s, no driver-side loops.
  */
object Relational {

  /** Money rounded to cents — makes double sums comparable with the DuckDB
    * oracle regardless of FP summation order. */
  private def money(c: Column): Column = round(c, 2)

  /** product_facts analogue: grain (brand, year, quarter, customer-nation).
    * Reference: CTAS at `LoadDataWarehouse.ChatterjeeP.R:90-104` (grain
    * product x year x quarter x customer-country).
    *
    * Materialized like the reference's CTAS facts
    * (`LoadDataWarehouse.ChatterjeeP.R:90-133`), which every analytics
    * query re-aggregates: the fact is persisted per (session, dir), so
    * q03-q08 re-aggregate ~|groups| cached rows instead of re-running
    * the star join over the full fact scan — the same two-layer design
    * that makes the warehouse viable at 100 TB.
    */
  def productFacts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"product_facts|$dir")(
      buildProductFacts(spark, dir))

  /** The product-fact star join at its (brand, year, quarter,
    * customer-nation) grain — ONE definition shared by the q01-q08 fact
    * family and q135's incremental maintenance, parameterized by the
    * money aggregate and an optional orders predicate, so the grain and
    * join keys cannot drift between the full and incremental builds. */
  private def productFactsAt(spark: SparkSession, dir: String,
      moneyAgg: Column, ordersPred: Column = lit(true)): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir).filter(ordersPred)
    val part = Tables.part(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(part, li("l_partkey") === part("p_partkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(
        col("p_brand").as("product_brand"),
        year(col("o_orderdate")).as("sale_year"),
        quarter(col("o_orderdate")).as("sale_quarter"),
        col("n_name").as("region"))
      .agg(moneyAgg)
  }

  private def buildProductFacts(spark: SparkSession, dir: String): DataFrame =
    productFactsAt(spark, dir,
      money(sum(col("l_extendedprice"))).as("total_sold"))

  /** rep_facts analogue: grain (supplier, year, quarter, brand).
    * Reference: CTAS at `LoadDataWarehouse.ChatterjeeP.R:118-133`. */
  def repFacts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"rep_facts|$dir")(
      buildRepFacts(spark, dir))

  private def buildRepFacts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val part = Tables.part(spark, dir)
    val supp = Tables.supplier(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(part, li("l_partkey") === part("p_partkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .groupBy(
        col("s_name").as("rep_name"),
        year(col("o_orderdate")).as("sale_year"),
        quarter(col("o_orderdate")).as("sale_quarter"),
        col("p_brand").as("product_brand"))
      .agg(money(sum(col("l_extendedprice"))).as("total_sold"))
  }

  /** q01 — product_facts build (J1+J2 joins, A1 4-key hash agg). */
  def q01ProductFacts(spark: SparkSession, dir: String): DataFrame =
    productFacts(spark, dir)
      .orderBy("product_brand", "sale_year", "sale_quarter", "region")

  /** q02 — rep_facts build (J3 join, A2 5-key hash agg). */
  def q02RepFacts(spark: SparkSession, dir: String): DataFrame =
    repFacts(spark, dir)
      .orderBy("rep_name", "sale_year", "sale_quarter", "product_brand")

  /** q03 — DW-Q1: quarterly totals for one year, re-aggregated from the
    * aggregate fact (A3; reference `LoadDataWarehouse.ChatterjeeP.R:142-152`). */
  def q03QuarterlyTotals(spark: SparkSession, dir: String): DataFrame =
    productFacts(spark, dir)
      .filter(col("sale_year") === 1996)
      .groupBy("sale_quarter")
      .agg(money(sum(col("total_sold"))).as("total_sold"))
      .orderBy("sale_quarter")

  /** q04 — DW-Q2: quarterly totals for one product, one year (P4 conjunctive
    * filter; reference `LoadDataWarehouse.ChatterjeeP.R:160-171`). */
  def q04ProductQuarterly(spark: SparkSession, dir: String): DataFrame =
    productFacts(spark, dir)
      .filter(col("sale_year") === 1996 && col("product_brand") === "Brand#1")
      .groupBy("sale_quarter")
      .agg(money(sum(col("total_sold"))).as("total_sold"))
      .orderBy("sale_quarter")

  /** q05 — DW-Q3: best-selling product of a year, top-1 (O1; reference
    * `LoadDataWarehouse.ChatterjeeP.R:179-192`). Tie-break on brand keeps the
    * LIMIT deterministic (SURVEY.md §7.4 hard part 2). */
  def q05TopProduct(spark: SparkSession, dir: String): DataFrame =
    productFacts(spark, dir)
      .filter(col("sale_year") === 1996)
      .groupBy("product_brand")
      .agg(money(sum(col("total_sold"))).as("total_sold"))
      .orderBy(desc("total_sold"), asc("product_brand"))
      .limit(1)

  /** q06 — DW-Q4: per-rep totals for a year (reference
    * `LoadDataWarehouse.ChatterjeeP.R:199-210`). */
  def q06RepTotals(spark: SparkSession, dir: String): DataFrame =
    repFacts(spark, dir)
      .filter(col("sale_year") === 1996)
      .groupBy("rep_name")
      .agg(money(sum(col("total_sold"))).as("total_sold"))
      .orderBy(desc("total_sold"), asc("rep_name"))

  /** q07 — Rmd-Q1: top-5 reps by year — GLOBAL order-by + limit, not
    * per-year rank (the reference's exact semantics,
    * `AnalyzeData.ChatterjeeP.Rmd:38-44`; SURVEY.md §2.5). Flagship. */
  def q07Top5Reps(spark: SparkSession, dir: String): DataFrame =
    repFacts(spark, dir)
      .groupBy("sale_year", "rep_name")
      .agg(money(sum(col("total_sold"))).as("total_sales"))
      .orderBy(desc("sale_year"), desc("total_sales"), asc("rep_name"))
      .limit(5)

  /** q08 — Rmd-Q2: totals per (year, quarter), presentation-sorted
    * (reference `AnalyzeData.ChatterjeeP.Rmd:63-68`). */
  def q08QuarterlyTrend(spark: SparkSession, dir: String): DataFrame =
    productFacts(spark, dir)
      .groupBy("sale_year", "sale_quarter")
      .agg(money(sum(col("total_sold"))).as("total_sold"))
      .orderBy("sale_year", "sale_quarter")

  /** q09 — T1 multi-batch UNION ALL ingest: the reference appends 6 XML
    * batches into one fact table keeping duplicates
    * (`LoadXML2DB.ChatterjeeP.R:198,248,299,350,401,452`). Modeled as a
    * union of two fact slices re-aggregated — load-order invariant. */
  def q09UnionBatches(spark: SparkSession, dir: String): DataFrame = {
    // the declared §4.3 optimizer stretch: the agg-through-union rule
    // (installed with the session, see GraftExtensions) rewrites this
    // exact shape into per-batch partial aggregates merged above the
    // union (plan pinned in PushAggThroughUnionSpec; the oracle
    // verifies semantics are unchanged)
    val li = Tables.lineitem(spark, dir)
    val batch1 = li.filter(col("l_linenumber") <= 3)
    val batch2 = li.filter(col("l_linenumber") > 3)
    batch1.unionByName(batch2)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           money(sum(col("l_extendedprice"))).as("total_price"))
      .orderBy("returnflag")
  }

  /** q10 — A4 first-seen dedup + dense surrogate keys, the reference's one
    * genuinely subtle operator (`LoadXML2DB.ChatterjeeP.R:112-143`;
    * SURVEY.md §7.4 hard part 1). Keys are assigned in first-appearance
    * order of the entity in the fact stream, deterministically under any
    * partitioning: first_seen = min(event-order struct), then a dense
    * global index over that order. `monotonically_increasing_id` is
    * deliberately NOT used (partition dependent).
    *
    * The dense index is range-partition + sortWithinPartitions +
    * `zipWithIndex` (VERDICT r09 #5) — the distributed global-ordinal
    * recipe: every partition sorts ITS range in parallel, zipWithIndex
    * adds per-partition offsets with one extra count job, and no row ever
    * passes through a single-task global window, at any dimension size.
    * The index is deterministic because (first_date, first_key) is a
    * total order (order keys are unique), so partition boundaries cannot
    * reorder equal rows. */
  def q10FirstSeenKeys(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val firstSeen = ord
      .groupBy(col("o_custkey").as("custkey"))
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"))).as("first_seen"))
      .select(col("custkey"),
              col("first_seen.o_orderdate").as("first_date"),
              col("first_seen.o_orderkey").as("first_key"))
    val sorted = firstSeen
      .repartitionByRange(col("first_date"), col("first_key"))
      .sortWithinPartitions("first_date", "first_key")
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "surrogate_id", org.apache.spark.sql.types.IntegerType,
        nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1).toInt)
    }
    spark.createDataFrame(indexed, schema)
      .select(col("custkey"), col("surrogate_id"))
      .orderBy("surrogate_id")
  }

  /** q11 — J4 build-side hash lookup with miss->NULL (left-outer) semantics:
    * the reference probes a named-vector map and stores NA on miss
    * (`LoadXML2DB.ChatterjeeP.R:170-171,186-187`). Dim = parts with
    * p_size > 25; unmatched fact rows count as misses. */
  def q11FkLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val dim = Tables.part(spark, dir).filter(col("p_size") > 25)
      .select("p_partkey", "p_brand")
    li.join(dim, li("l_partkey") === dim("p_partkey"), "left_outer")
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           count(col("p_brand")).as("n_matched"))
      .orderBy("returnflag")
  }

  /** q12 — U1/F4 key fixup: the reference repairs a prefix mismatch with
    * `UPDATE salestxn SET rep_id = CONCAT('r', rep_id)`
    * (`LoadDataWarehouse.ChatterjeeP.R:112-115`) before joining reps.
    * Spark has no in-place update — the fixup is a derived column on an
    * immutable DataFrame, then the join works. */
  def q12KeyFixup(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .withColumn("rep_id", col("l_suppkey").cast("string"))
    val dim = Tables.supplier(spark, dir)
      .select(concat(lit("r"), col("s_suppkey").cast("string")).as("rep_id"),
              col("s_name"))
    fact
      .withColumn("rep_id", concat(lit("r"), col("rep_id")))
      .join(dim, Seq("rep_id"))
      .groupBy(col("s_name").as("rep_name"))
      .agg(money(sum(col("l_extendedprice"))).as("total_sold"))
      .orderBy("rep_name")
  }

  /** [[productFactsAt]] with money in EXACT integer cents, restricted to
    * orders matching `pred`. Cents (not rounded doubles) because
    * incremental maintenance adds partial aggregates: integer addition
    * is associative, so merging batch partials is bit-identical to a
    * from-scratch build no matter how the data is split — the property
    * q135's full-recompute oracle checks. */
  private def centsFacts(spark: SparkSession, dir: String,
      pred: Column): DataFrame =
    productFactsAt(spark, dir,
      sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("total_cents"),
      pred)

  /** The refresh boundary q135 simulates: everything before is "history
    * already materialized", everything on/after is "the new batch".
    * Mid-quarter on purpose — Q2-2001 grain cells get contributions
    * from BOTH sides, so the merge is exercised, not just a union. */
  private[graft] val RefreshCutoff = "2001-05-15"

  /** q135 — INCREMENTAL maintenance of the materialized aggregate fact
    * (the operational story behind the reference's CTAS fact tables,
    * reference `LoadDataWarehouse.ChatterjeeP.R:90-104`): the nightly
    * refresh re-aggregates ONLY the new batch and merges it into the
    * persisted fact — history's base rows are never re-read. Here the
    * history fact is built in the query, standing in for the stored
    * artifact a nightly refresh would read (the same
    * never-re-read-history pattern as q102's band tables and q127's
    * chunk store), the delta runs [[centsFacts]] with the cutoff
    * predicate pushed into the orders scan (a date-partitioned 100 TB
    * fact lake turns that into partition pruning), and the merge is a
    * groupBy-sum over |fact| + |delta fact| rows — both tiny relative
    * to the base tables. Because the fact is kept in exact integer
    * cents, merged partials are bit-identical to a from-scratch build:
    * the DuckDB oracle IS the full recompute, so the driver's hash
    * compare proves incremental == full, not merely plausible. */
  def q135IncrementalFacts(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(RefreshCutoff).cast("timestamp")
    val hist = centsFacts(spark, dir, col("o_orderdate") < cutoff)
    val delta = centsFacts(spark, dir, col("o_orderdate") >= cutoff)
    hist.unionByName(delta)
      .groupBy("product_brand", "sale_year", "sale_quarter", "region")
      .agg(sum(col("total_cents")).as("total_cents"))
      .orderBy("product_brand", "sale_year", "sale_quarter", "region")
  }

  /** q136 — SNAPSHOT DIFF (table-version CDC): classify every key of two
    * table versions as added / deleted / updated with ONE co-partitioned
    * full-outer join and a row-hash compare. The two versions are derived
    * deterministically from orders so the DuckDB oracle can build the
    * identical pair: version A is the pre-cutoff table; version B drops
    * keys ≡ 0 mod 101 (deletes), reprices keys ≡ 0 mod 97 (updates), and
    * contains the post-cutoff orders (adds). Payload equality is a single
    * md5 over the canonicalized payload string (money in integer cents,
    * so both engines hash byte-identical strings) — the standard trick
    * that makes diffing a 100-column table cost one codegen'd hash per
    * row instead of 100 column comparisons. Unchanged keys are dropped.
    *
    * Scale: both snapshots of a 100 TB table live bucketed by the key
    * (q134's layout), so this full-outer join is co-located — the whole
    * diff is one zero-shuffle pass emitting only the changed keys.
    * That output is the change feed every downstream incremental job
    * (q135's fact refresh, q102/q127's dedup stores) consumes. */
  def q136SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit(RefreshCutoff).cast("timestamp")
    val base = Tables.orders(spark, dir)
    def payloadHash(price: Column, priority: Column): Column =
      md5(concat_ws("|",
        round(price * 100, 0).cast("long").cast("string"), priority))
    val verA = base.filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"),
        payloadHash(col("o_totalprice"), col("o_orderpriority")).as("hash_a"))
    // the repricing is additive (stays exactly 2-decimal) — a
    // multiplicative bump would manufacture exact-half cent ties where
    // the two engines' rounding tie-breaks could diverge
    val verB = base.filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"),
        payloadHash(
          when(col("o_orderkey") % 97 === 0, col("o_totalprice") + 7.77)
            .otherwise(col("o_totalprice")),
          col("o_orderpriority")).as("hash_b"))
    verA.join(verB, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("hash_a").isNull, "added")
          .when(col("hash_b").isNull, "deleted")
          .when(col("hash_a") =!= col("hash_b"), "updated"))
      .filter(col("change_type").isNotNull)
      .select("o_orderkey", "change_type")
      .orderBy("o_orderkey")
  }

  /** DuckDB CTE mirroring [[productFacts]] exactly (incl. cent rounding at
    * the fact grain, so re-aggregations sum identical values). */
  private val productFactsCte: String =
    """product_facts AS (
      |  SELECT p_brand AS product_brand,
      |         CAST(year(o_orderdate) AS INT) AS sale_year,
      |         CAST(quarter(o_orderdate) AS INT) AS sale_quarter,
      |         n_name AS region,
      |         round(sum(l_extendedprice), 2) AS total_sold
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val repFactsCte: String =
    """rep_facts AS (
      |  SELECT s_name AS rep_name,
      |         CAST(year(o_orderdate) AS INT) AS sale_year,
      |         CAST(quarter(o_orderdate) AS INT) AS sale_quarter,
      |         p_brand AS product_brand,
      |         round(sum(l_extendedprice), 2) AS total_sold
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_product_facts", q01ProductFacts _,
      s"""WITH $productFactsCte
         |SELECT * FROM product_facts
         |ORDER BY product_brand, sale_year, sale_quarter, region""".stripMargin),
    QueryDef("q02_rep_facts", q02RepFacts _,
      s"""WITH $repFactsCte
         |SELECT * FROM rep_facts
         |ORDER BY rep_name, sale_year, sale_quarter, product_brand""".stripMargin),
    QueryDef("q03_quarterly_totals", q03QuarterlyTotals _,
      s"""WITH $productFactsCte
         |SELECT sale_quarter, round(sum(total_sold), 2) AS total_sold
         |FROM product_facts WHERE sale_year = 1996
         |GROUP BY sale_quarter ORDER BY sale_quarter""".stripMargin),
    QueryDef("q04_product_quarterly", q04ProductQuarterly _,
      s"""WITH $productFactsCte
         |SELECT sale_quarter, round(sum(total_sold), 2) AS total_sold
         |FROM product_facts
         |WHERE sale_year = 1996 AND product_brand = 'Brand#1'
         |GROUP BY sale_quarter ORDER BY sale_quarter""".stripMargin),
    QueryDef("q05_top_product", q05TopProduct _,
      s"""WITH $productFactsCte
         |SELECT product_brand, round(sum(total_sold), 2) AS total_sold
         |FROM product_facts WHERE sale_year = 1996
         |GROUP BY product_brand
         |ORDER BY total_sold DESC, product_brand ASC LIMIT 1""".stripMargin),
    QueryDef("q06_rep_totals", q06RepTotals _,
      s"""WITH $repFactsCte
         |SELECT rep_name, round(sum(total_sold), 2) AS total_sold
         |FROM rep_facts WHERE sale_year = 1996
         |GROUP BY rep_name
         |ORDER BY total_sold DESC, rep_name ASC""".stripMargin),
    QueryDef("q07_top5_reps", q07Top5Reps _,
      s"""WITH $repFactsCte
         |SELECT sale_year, rep_name, round(sum(total_sold), 2) AS total_sales
         |FROM rep_facts
         |GROUP BY sale_year, rep_name
         |ORDER BY sale_year DESC, total_sales DESC, rep_name ASC LIMIT 5""".stripMargin),
    QueryDef("q08_quarterly_trend", q08QuarterlyTrend _,
      s"""WITH $productFactsCte
         |SELECT sale_year, sale_quarter, round(sum(total_sold), 2) AS total_sold
         |FROM product_facts
         |GROUP BY sale_year, sale_quarter
         |ORDER BY sale_year, sale_quarter""".stripMargin),
    QueryDef("q09_union_batches", q09UnionBatches _,
      """SELECT l_returnflag AS returnflag,
        |       count(*) AS n_rows,
        |       round(sum(l_extendedprice), 2) AS total_price
        |FROM (SELECT * FROM lineitem WHERE l_linenumber <= 3
        |      UNION ALL
        |      SELECT * FROM lineitem WHERE l_linenumber > 3)
        |GROUP BY returnflag ORDER BY returnflag""".stripMargin),
    QueryDef("q10_first_seen_keys", q10FirstSeenKeys _,
      """WITH ranked AS (
        |  SELECT o_custkey AS custkey, o_orderdate, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |first_seen AS (
        |  SELECT custkey, o_orderdate AS first_date, o_orderkey AS first_key
        |  FROM ranked WHERE rn = 1)
        |SELECT custkey,
        |       CAST(row_number() OVER (ORDER BY first_date, first_key) AS INT)
        |         AS surrogate_id
        |FROM first_seen ORDER BY surrogate_id""".stripMargin),
    QueryDef("q11_fk_left_join", q11FkLeftJoin _,
      """SELECT l_returnflag AS returnflag,
        |       count(*) AS n_rows,
        |       count(p_brand) AS n_matched
        |FROM lineitem
        |LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 25) dim
        |  ON l_partkey = p_partkey
        |GROUP BY returnflag ORDER BY returnflag""".stripMargin),
    QueryDef("q12_key_fixup", q12KeyFixup _,
      """WITH fact AS (
        |  SELECT 'r' || CAST(l_suppkey AS VARCHAR) AS rep_id, l_extendedprice
        |  FROM lineitem),
        |dim AS (
        |  SELECT 'r' || CAST(s_suppkey AS VARCHAR) AS rep_id, s_name
        |  FROM supplier)
        |SELECT s_name AS rep_name, round(sum(l_extendedprice), 2) AS total_sold
        |FROM fact JOIN dim USING (rep_id)
        |GROUP BY s_name ORDER BY rep_name""".stripMargin),
    // the oracle is the FULL from-scratch build (no cutoff anywhere):
    // the engine's incremental merge must hash-match it exactly
    QueryDef("q135_incremental_facts", q135IncrementalFacts _,
      """SELECT p_brand AS product_brand,
        |       CAST(year(o_orderdate) AS INT) AS sale_year,
        |       CAST(quarter(o_orderdate) AS INT) AS sale_quarter,
        |       n_name AS region,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS total_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3, 4
        |ORDER BY 1, 2, 3, 4""".stripMargin),
    QueryDef("q136_snapshot_diff", q136SnapshotDiff _,
      """WITH ver_a AS (
        |  SELECT o_orderkey,
        |         md5(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |               AS VARCHAR) || '|' || o_orderpriority) AS hash_a
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-05-15'),
        |ver_b AS (
        |  SELECT o_orderkey,
        |         md5(CAST(CAST(round(
        |               (CASE WHEN o_orderkey % 97 = 0
        |                     THEN o_totalprice + CAST(7.77 AS DOUBLE)
        |                     ELSE o_totalprice END) * 100, 0) AS BIGINT)
        |               AS VARCHAR) || '|' || o_orderpriority) AS hash_b
        |  FROM orders WHERE o_orderkey % 101 <> 0)
        |SELECT o_orderkey,
        |       CASE WHEN hash_a IS NULL THEN 'added'
        |            WHEN hash_b IS NULL THEN 'deleted'
        |            WHEN hash_a <> hash_b THEN 'updated' END AS change_type
        |FROM ver_a FULL OUTER JOIN ver_b USING (o_orderkey)
        |WHERE (hash_a IS NULL) OR (hash_b IS NULL) OR (hash_a <> hash_b)
        |ORDER BY o_orderkey""".stripMargin))
}
