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
  *
  * Beyond the reference, the SQL surface a complete engine exposes
  * (SURVEY.md §2 J5/A5-A7/T2/F8, §2.5, §2.6): semi/anti/full-outer/
  * cross/range/theta joins (q13-q16, q29, q74), ROLLUP/CUBE/GROUPING
  * SETS (q17-q19), ranking, analytic, RANGE-frame and value windows
  * (q20, q21, q61-q63), set operations (q22), distinct and statistical
  * aggregates (q23, q49-q50, q56-q57, q72, q85, q91, q116), scalar
  * families over strings, JSON, VARIANT, arrays, dates and maps (q24-q27,
  * q51, q108), pivot/unpivot (q54-q55), conditional aggregation,
  * lateral explode and date spines (q58-q60), scalar subqueries (q77),
  * as-of joins (q30, q70, q88), top-k (q28), skyline (q192), trade
  * flows (q358) and exact medians and quantile ladders (q363, q366,
  * q373).
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

  /** q13 — left-semi join (J5): customers having >=1 order above 300k,
    * counted per market segment. Semi avoids the fact-side duplication an
    * inner join + distinct would shuffle. */
  def q13SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("mktsegment")
  }

  /** q14 — left-anti join (J5): customers with NO order in 1996. */
  def q14AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val o96 = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1996)
    cust.join(o96, cust("c_custkey") === o96("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("mktsegment")
  }

  /** q15 — full-outer join (J5): per-customer order counts of 1996 vs 1997;
    * customers active in only one year surface through the outer side
    * (counts coalesced to 0). */
  def q15FullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def yearCounts(y: Int, alias: String) = ord
      .filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey").as(s"ck_$alias"))
      .agg(count(lit(1)).as(s"cnt_$alias"))
    val a = yearCounts(1996, "a")
    val b = yearCounts(1997, "b")
    a.join(b, a("ck_a") === b("ck_b"), "full_outer")
      .select(
        coalesce(col("ck_a"), col("ck_b")).as("custkey"),
        coalesce(col("cnt_a"), lit(0L)).as("orders_1996"),
        coalesce(col("cnt_b"), lit(0L)).as("orders_1997"))
      .orderBy("custkey")
  }

  /** q16 — cross join (J5): region x distinct return flags grid. */
  def q16CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).select(col("r_name").as("region"))
    val flags = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("returnflag")).distinct()
    region.crossJoin(flags).orderBy("region", "returnflag")
  }

  /** q17 — ROLLUP (A6) over (year, quarter) with GROUPING flags. */
  def q17Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("sale_year"),
              quarter(col("o_orderdate")).as("sale_quarter"),
              col("o_totalprice"))
      .rollup(col("sale_year"), col("sale_quarter"))
      .agg(money(sum(col("o_totalprice"))).as("total_price"),
           count(lit(1)).as("n_orders"),
           grouping(col("sale_year")).cast("int").as("g_year"),
           grouping(col("sale_quarter")).cast("int").as("g_quarter"))
      .select(coalesce(col("sale_year"), lit(-1)).as("sale_year"),
              coalesce(col("sale_quarter"), lit(-1)).as("sale_quarter"),
              col("total_price"), col("n_orders"),
              col("g_year"), col("g_quarter"))
      .orderBy("sale_year", "sale_quarter")

  /** q18 — CUBE (A6) over (returnflag, linestatus). */
  def q18Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
           money(sum(col("l_quantity"))).as("total_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("n_rows"), col("total_qty"))
      .orderBy("returnflag", "linestatus")

  /** q19 — GROUPING SETS (A6) via Spark SQL. */
  def q19GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    // one view name per dir: overlapping calls on different dirs must
    // not resolve each other's view
    val view = s"graft_orders_v_${Tables.nameTag(dir)}"
    Tables.orders(spark, dir).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT coalesce(year(o_orderdate), -1) AS sale_year,
        |       coalesce(quarter(o_orderdate), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM $view
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (quarter(o_orderdate)), ())
        |ORDER BY sale_year, sale_quarter""".stripMargin)
  }

  /** q20 — ranking windows (§2.5): top-3 parts per brand by revenue;
    * rank/dense_rank/row_number over a totally-ordered frame. */
  def q20WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val rev = li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("p_partkey").as("partkey"))
      .agg(money(sum(col("l_extendedprice"))).as("revenue"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(desc("revenue"), asc("partkey"))
    rev.select(col("brand"), col("partkey"), col("revenue"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy("brand", "rn")
  }

  /** q21 — analytic windows with explicit frames (§2.5): monthly revenue
    * with lag/lead/running total/3-month moving average. */
  def q21WindowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(money(sum(col("o_totalprice"))).as("revenue"))
    val w = Window.orderBy("month")
    monthly.select(col("month"), col("revenue"),
        money(lag(col("revenue"), 1).over(w)).as("prev_revenue"),
        money(lead(col("revenue"), 1).over(w)).as("next_revenue"),
        money(sum(col("revenue"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("running_total"),
        round(avg(col("revenue"))
          .over(w.rowsBetween(-2, Window.currentRow)), 2).as("moving_avg3"))
      .orderBy("month")
  }

  /** q22 — set operations (T2): INTERSECT / EXCEPT / UNION-distinct over
    * the 1996 vs 1997 active-customer sets, as one summary row. */
  def q22SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def active(y: Int) = ord.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey")).distinct()
    val a = active(1996)
    val b = active(1997)
    val inter = a.intersect(b).agg(count(lit(1)).as("n_intersect"))
    val exc = a.except(b).agg(count(lit(1)).as("n_except"))
    val uni = a.union(b).distinct().agg(count(lit(1)).as("n_union"))
    inter.crossJoin(exc).crossJoin(uni)
  }

  /** q23 — multi-distinct aggregation (A5): exact distinct suppliers and
    * customers per nation. */
  def q23DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(countDistinct(col("s_suppkey")).as("n_suppliers"))
    val cust = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"))
    nat.join(supp, Seq("nationkey"), "left_outer")
      .join(cust, Seq("nationkey"), "left_outer")
      .select(col("nation"),
              coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
              coalesce(col("n_customers"), lit(0L)).as("n_customers"))
      .orderBy("nation")
  }

  /** q24 — string scalar family (F8) over documents. */
  def q24ScalarString(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).as("text_len"),
        substring(col("text"), 1, 10).as("prefix10"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
        upper(col("source")).as("source_upper"),
        concat(col("lang"), lit(":"), col("source")).as("lang_source"))
      .orderBy("doc_id")

  /** q25 — JSON access (F8) over events.props. */
  def q25Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           round(avg(col("k")), 6).as("avg_k"),
           max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q108 — VARIANT shredding (F8's scale path on Spark 4): `props` is
    * parsed ONCE into a binary variant column, then every field access
    * is a cheap typed `variant_get` path lookup — vs `get_json_object`
    * re-parsing the string per extraction (q25 keeps that form as the
    * classic surface). At 100 TB the difference compounds: parquet
    * variant shredding stores hot paths columnarly so the scan prunes
    * to the accessed paths, and N extractions cost one parse instead of
    * N. Typed gets return NULL on absent paths (no exceptions mid-scan)
    * and `is_variant_null` distinguishes JSON null from absent — the
    * semantics a lossy string-regex pipeline gets wrong. */
  def q108VariantShred(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'int')").as("k_int"),
        expr("variant_get(v, '$.k', 'string')").as("k_str"),
        expr("variant_get(v, '$.absent', 'string')").as("absent_str"),
        expr("is_variant_null(variant_get(v, '$.k'))").as("k_is_json_null"))
      .orderBy("event_id")

  /** q26 — array functions (F8) over embeddings: size / element access /
    * elementwise fold, computed in double like the oracle. */
  def q26ArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
        round(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"),
          6).as("vec_sum"))
      .orderBy("vec_id")

  /** q27 — date/time scalar family (F1-F3 generalized): per (year, month)
    * order counts and day-of-month extremes. */
  def q27DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("sale_year"),
               month(col("o_orderdate")).as("sale_month"))
      .agg(count(lit(1)).as("n_orders"),
           min(dayofmonth(col("o_orderdate"))).as("min_day"),
           max(dayofmonth(col("o_orderdate"))).as("max_day"))
      .orderBy("sale_year", "sale_month")

  /** q28 — multi-key global top-k (O2): TakeOrderedAndProject, no full
    * sort materialization. */
  def q28TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(20)

  /** q29 — equi + range-predicate join (J5): lineitems shipped within 30
    * days of their order date; per-flag count and mean delay. */
  def q29RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val delay = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .withColumn("delay_days", delay)
      .filter(col("delay_days") >= 0 && col("delay_days") <= 30)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           round(avg(col("delay_days")), 6).as("avg_delay"))
      .orderBy("returnflag")
  }

  /** q30 — as-of join (J5): for each purchase event, the most recent
    * signup at-or-before it by the same user. Implemented with the
    * scale-correct union+window merge (one shuffle on user_id, no
    * pairwise blowup — the pattern a 100 TB as-of needs), not a
    * pairwise inequality join. */
  def q30AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tagged = ev
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "signup", col("ts")).as("signup_ts"))
    // signup sorts before purchase at equal ts => inclusive (<=) semantics
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "signup", 0).otherwise(1))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("prior_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
           count(col("prior_signup_ts")).as("n_with_prior_signup"))
      .orderBy("user_id")
  }

  /** q49 — approximate distinct count (A5): HLL++ `approx_count_distinct`
    * checked against the exact count. DuckDB's sketch differs by
    * construction, so the oracle verifies the exact count plus the
    * ACCURACY CONTRACT of the sketch (relative error within 3x the
    * default 5% rsd) — a real differential test of the property an
    * approx-distinct must honor, not a rows-only check. At 100 TB the
    * approx variant is the one that matters: no per-key shuffle state,
    * only a mergeable sketch. */
  def q49ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
           approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.15).as("approx_within_15pct"))
      .orderBy("event_type")

  /** q50 — statistical aggregate family (A7): avg / stddev / exact
    * interpolated percentile / min / max. */
  def q50StatsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(round(avg(col("l_extendedprice")), 4).as("avg_price"),
           round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"),
           min(col("l_extendedprice")).as("min_price"),
           max(col("l_extendedprice")).as("max_price"))
      // median from the shared per-flag percentile frame (element 2 =
      // p50) — the exact-percentile value buffer is built once per
      // session for q50/q56/q72 instead of three times
      .join(flagPercentiles(spark, dir)
        .select(col("returnflag"),
          round(element_at(col("ps"), 2), 4).as("median_price")),
        Seq("returnflag"))
      .select(col("returnflag"), col("avg_price"), col("stddev_price"),
        col("median_price"), col("min_price"), col("max_price"))
      .orderBy("returnflag")

  /** q51 — map-type functions (F8): parse events.props into a typed MAP,
    * access/enumerate it. */
  def q51MapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("props_map",
        from_json(col("props"), lit("map<string,int>")))
      .select(col("event_id"),
        map_keys(col("props_map")).getItem(0).as("first_key"),
        size(col("props_map")).as("n_keys"),
        col("props_map").getItem("k").as("k_value"))
      .orderBy("event_id")

  /** q54 — PIVOT: quarterly revenue reshaped to one column per quarter
    * (wide fact snapshot, the BI-surface counterpart of q03). Pivot
    * values are declared, so the plan is a single pass with conditional
    * aggregation — no second job to discover the pivot domain. */
  def q54Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("sale_year"),
              quarter(col("o_orderdate")).as("sale_quarter"),
              col("o_totalprice"))
      .groupBy("sale_year")
      .pivot("sale_quarter", Seq(1, 2, 3, 4))
      .agg(money(sum(col("o_totalprice"))))
      .select(col("sale_year"), col("1").as("q1"), col("2").as("q2"),
              col("3").as("q3"), col("4").as("q4"))
      .orderBy("sale_year")

  /** q55 — UNPIVOT (melt): wide per-flag aggregates back to long
    * (metric, value) rows — the inverse reshaping primitive. */
  def q55Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(money(sum(col("l_quantity"))).as("sum_qty"),
           money(sum(col("l_extendedprice"))).as("sum_price"),
           count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
        Array(col("returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "metric", "value")
      .orderBy("returnflag", "metric")
  }

  /** Exact per-flag price percentiles at the 4 standard points — the
    * shared buffer behind q50 (median), q56 (all four), and q72 (the
    * approx-contract's ground truth), cached per (session, dir): the
    * per-group value buffer the exact `percentile` aggregate
    * materializes is the dominant cost of all three. */
  private[operators] def flagPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"flag_percentiles|$dir")(
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag").as("returnflag"))
        // one array-argument percentile = one sort buffer per group, not 4
        .agg(expr(
          "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.95D))")
          .as("ps")))

  /** q56 — multi-quantile aggregate (A7): exact interpolated percentiles
    * at 4 points per group. At 100 TB swap `percentile` for
    * `percentile_approx` (mergeable t-digest-style sketch, no per-group
    * sort state) — the exact variant here doubles as its oracle. */
  def q56Percentiles(spark: SparkSession, dir: String): DataFrame =
    flagPercentiles(spark, dir)
      .select(col("returnflag"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p95"))
      .orderBy("returnflag")

  /** q57 — correlation / covariance / linear-regression aggregates (A7)
    * between quantity and price per flag. */
  def q57CorrRegr(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
           round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
           round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
           round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"))
      .orderBy("returnflag")

  /** q58 — conditional aggregation (F8/A7): count_if / bool_and /
    * bool_or — one scan, no self-joins. */
  def q58ConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count_if(col("c_acctbal") > 5000).as("n_high_bal"),
           count_if(col("c_acctbal") < 0).as("n_negative"),
           bool_and(col("c_name").isNotNull).as("all_have_name"),
           bool_or(col("c_acctbal") > 9000).as("any_very_high"))
      .orderBy("mktsegment")

  /** q59 — lateral explode with position (UDTF surface, SURVEY.md §2.11):
    * token stream with ordinality for a deterministic doc subset. */
  def q59LateralExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 200 === 0)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .orderBy("doc_id", "pos")

  /** q60 — sequence generation (date spine): each sampled order expanded
    * to the 4 month-starts from its order month — the standard
    * gap-filling/spine pattern for time series. */
  def q60DateSpine(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 5000 === 0)
      .select(col("o_orderkey"),
        explode(expr(
          """sequence(CAST(date_trunc('month', o_orderdate) AS DATE),
            |         add_months(CAST(date_trunc('month', o_orderdate) AS DATE), 3),
            |         interval 1 month)""".stripMargin)).as("month_start"))
      .orderBy("o_orderkey", "month_start")

  /** q61 — RANGE window frame: trailing-7-day revenue over the daily
    * series. Revenue is held in exact cents (BIGINT) inside the frame so
    * the sliding sum is associativity-proof — double accumulation order
    * inside RANGE frames is engine-specific and would break bit parity
    * (and at scale, reproducibility). */
  def q61RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy("day_num").rangeBetween(-6, 0)
    daily
      .select(col("day"),
        round(col("cents") / 100.0, 2).as("revenue"),
        round((sum(col("cents")).over(w)) / 100.0, 2).as("trailing_7d"))
      .orderBy("day")
  }

  /** q62 — distribution ranking (§2.5): revenue quartile, percent_rank
    * and cume_dist per supplier — all three derived from ONE
    * [[DistributedRank.withGlobalRank]] ordinal plus a broadcast
    * count, instead of a single-task global window over the supplier
    * profile (which grows with the corpus). Under the total order
    * (revenue DESC, rep_name) there are no rank peers, so
    * `percent_rank = (rn−1)/(n−1)` and `cume_dist = rn/n` exactly,
    * and the quartile applies the SQL ntile size rule (first n%k
    * tiles get one extra row) — bit-identical to the window forms. */
  def q62Ntile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val rev = li.join(supp, li("l_suppkey") === supp("s_suppkey"))
      .groupBy(col("s_name").as("rep_name"))
      .agg(money(sum(col("l_extendedprice"))).as("revenue"))
    // checkpoint the ranked frame once; the scalar count reads it
    // instead of re-running rev's join+agg (the withNtile discipline)
    val ranked = DistributedRank.withGlobalRank(rev, "rn",
        desc("revenue"), asc("rep_name"))
      .localCheckpoint()
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
      .withColumn("__q", expr("__n div 4"))
      .withColumn("__cut", (col("__n") % 4) * (col("__q") + 1L))
      .select(col("rep_name"), col("revenue"),
        when(col("rn") <= col("__cut"),
          expr("(rn - 1) div (__q + 1) + 1"))
          .otherwise(expr(
            "__n % 4 + (rn - __cut - 1) div greatest(__q, 1L) + 1"))
          .cast("int").as("quartile"),
        round(when(col("__n") > 1L, (col("rn") - 1L).cast("double") /
          (col("__n") - 1L).cast("double")).otherwise(0.0), 6)
          .as("pct_rank"),
        round(col("rn").cast("double") / col("__n").cast("double"), 6)
          .as("cume"))
      .orderBy("rep_name")
  }

  /** q63 — value window functions (§2.5): first/last/2nd month revenue
    * within each year (whole-partition frame). */
  def q63ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("sale_year"),
               month(col("o_orderdate")).as("sale_month"))
      .agg(money(sum(col("o_totalprice"))).as("revenue"))
    val w = Window.partitionBy("sale_year").orderBy("sale_month")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    monthly.select(col("sale_year"), col("sale_month"), col("revenue"),
        first(col("revenue")).over(w).as("first_month_rev"),
        last(col("revenue")).over(w).as("last_month_rev"),
        nth_value(col("revenue"), 2).over(w).as("second_month_rev"))
      .orderBy("sale_year", "sale_month")
  }

  /** q70 — NATIVE as-of join: q30's semantics on the custom
    * [[graft.plans.AsofJoin]] LogicalPlan + Strategy + Exec (one
    * clustered shuffle + sort per side, O(1)-state streaming merge)
    * instead of the union+window composition. Differentially tested
    * against DuckDB's real ASOF LEFT JOIN, and asserted row-identical
    * to q30 in ScalaTest. */
  def q70AsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user_id"), col("ts").as("signup_ts"))
    graft.plans.AsofJoin
      .asofJoin(purchases, signups,
        Seq("user_id"), Seq("s_user_id"), "ts", "signup_ts")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
           count(col("signup_ts")).as("n_with_prior_signup"))
      .orderBy("user_id")
  }

  /** q72 — approximate percentile (A5/A7 scale path): the mergeable
    * KLL-style sketch behind `percentile_approx` is what replaces q56's
    * exact per-group sort buffers at 100 TB. Like q49, the oracle checks
    * the ACCURACY CONTRACT: with accuracy=10000 the sketch's p50/p95
    * must land within 1% relative error of the exact interpolated
    * quantiles (rank error 1/10000 gives wide margin). */
  def q72ApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    val approx = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(expr("percentile_approx(l_extendedprice, array(0.5D, 0.95D), 10000)")
        .as("approx"))
    // exact ground truth from the shared per-flag percentile frame
    // (elements 2 and 4 are p50/p95)
    flagPercentiles(spark, dir)
      .select(col("returnflag"),
        element_at(col("ps"), 2).as("e50"), element_at(col("ps"), 4).as("e95"))
      .join(approx, Seq("returnflag"))
      .select(col("returnflag"),
        round(col("e50"), 4).as("exact_p50"),
        round(col("e95"), 4).as("exact_p95"),
        (abs(element_at(col("approx"), 1) - col("e50")) / col("e50") <= 0.01 &&
         abs(element_at(col("approx"), 2) - col("e95")) / col("e95") <= 0.01)
          .as("approx_within_1pct"))
      .orderBy("returnflag")
  }

  /** q74 — theta/band join (J5): near-size part pairs within a brand.
    * The equi prefix (brand) carries the shuffle so the theta condition
    * (|size diff| <= 1, key ordering) evaluates inside co-located
    * partitions — the only theta-join shape that scales; a bare
    * inequality join would be a cross product. */
  def q74ThetaBandJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val a = p.select(col("p_brand").as("brand"),
      col("p_partkey").as("pk1"), col("p_size").as("sz1"))
    val b = p.select(col("p_brand").as("brand"),
      col("p_partkey").as("pk2"), col("p_size").as("sz2"))
    a.join(b, Seq("brand"))
      .filter(col("pk1") < col("pk2") &&
        abs(col("sz1") - col("sz2")) <= 1)
      .groupBy("brand")
      .agg(count(lit(1)).as("n_pairs"),
           round(avg(abs(col("sz1") - col("sz2"))), 6).as("avg_gap"))
      .orderBy("brand")
  }

  /** q77 — scalar subquery: orders above the global mean price, grouped
    * by quarter. Catalyst plans the subquery as an independent stage
    * whose single-row result broadcasts into the filter — no per-row
    * re-evaluation. */
  def q77ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val view = s"graft_orders_sq_${Tables.nameTag(dir)}"
    Tables.orders(spark, dir).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |       CAST(quarter(o_orderdate) AS INT) AS sale_quarter,
        |       count(*) AS n_big_orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM $view
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM $view)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** q85 — equal-width histogram of l_extendedprice (20 buckets): global
    * min/max via a scalar aggregate broadcast against the scan, bucket
    * arithmetic inline. Money summed in exact cents (BIGINT) — double
    * accumulation order is not portable across engines. */
  def q85Histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi"))
    // hi == lo (single-value corpus) would be 0/0 -> NaN, where Spark's
    // floor(NaN) cast yields a silent bucket but DuckDB's CAST errors —
    // pin the degenerate corpus to bucket 0 in BOTH engines instead
    li.crossJoin(broadcast(bounds))
      .withColumn("bucket", when(col("hi") === col("lo"), lit(0))
        .otherwise(least(lit(19), floor(
            (col("l_extendedprice") - col("lo")) * 20.0 /
              (col("hi") - col("lo"))))
          .cast("int")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("bigint"))
          .as("sum_price_cents"))
      .orderBy("bucket")
  }

  /** q88 — FORWARD as-of join with tolerance on the native
    * [[graft.plans.AsofJoin]] exec: each signup matched to the first
    * purchase at-or-after it by the same user, kept only within 7 days
    * (time-to-convert attribution). Same O(1)-state streaming merge as
    * the backward q70 — forward needs no held row at all, it peeks the
    * first undiscarded right row. Oracle: DuckDB ASOF LEFT JOIN with
    * `p.ts >= s.ts` plus the tolerance as a post-filter (equivalent
    * because both pick the nearest following row). */
  def q88AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    graft.plans.AsofJoin
      .asofJoin(signups, purchases, Seq("user_id"), Seq("p_user_id"),
        "ts", "p_ts", Some(7L * 86400L * 1000000L), "forward")
      .withColumn("gap_sec",
        expr("(unix_micros(p_ts) - unix_micros(ts)) div 1000000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_signups"),
        count(col("p_ts")).as("n_converted_7d"),
        sum(col("gap_sec")).as("sum_gap_sec"))
      .orderBy("user_id")
  }

  /** q91 — higher-moment aggregates: population skewness and excess
    * kurtosis per group. Spark's `skewness`/`kurtosis` are population
    * moments; the oracle converts DuckDB's sample skewness with the
    * exact algebraic factor (n-2)/sqrt(n(n-1)) and uses kurtosis_pop
    * directly — definitional parity, not numeric fudging. */
  def q91HigherMoments(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n"),
        round(skewness(col("l_extendedprice")), 4).as("skew_pop"),
        round(kurtosis(col("l_extendedprice")), 4).as("kurt_pop"))
      .orderBy("returnflag")

  /** q116 — winsorized (percentile-clipped) robust aggregation: per
    * event type, values are clipped to the exact [p01, p99] band and
    * re-aggregated, reporting how much mass was trimmed on each side —
    * the standard outlier-containment step before numeric features
    * feed model training (a single corrupt 1e12 reading otherwise owns
    * the mean). Exact interpolated percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont`, both type-7), so the clip bounds — and
    * therefore the trimmed counts — are engine-identical. Scale: one
    * percentile aggregation per type (the per-type value lists are the
    * sort unit, never the whole corpus), bounds broadcast back against
    * the scan, one final hash agg — at 100 TB the exact percentile is
    * the only step that grows, and its drop-in replacement is q72's
    * mergeable approx_percentile at the documented error trade. */
  def q116Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type").agg(
      expr("percentile(value, 0.01d)").as("p01"),
      expr("percentile(value, 0.99d)").as("p99"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("clipped",
        least(greatest(col("value"), col("p01")), col("p99")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("p01")).cast("long")).as("n_clipped_lo"),
        sum((col("value") > col("p99")).cast("long")).as("n_clipped_hi"),
        round(min(col("p01")), 4).as("p01"),
        round(min(col("p99")), 4).as("p99"),
        round(avg(col("clipped")), 4).as("winsorized_mean"),
        round(avg(col("value")), 4).as("raw_mean"))
      .orderBy("event_type")
  }

  /** q192 — skyline (Pareto-front) preference query over parts: the
    * parts for which no other part is both cheaper-or-equal and
    * larger-or-equal (with one strict) on (retail price ↓, size ↑) —
    * the multi-objective shortlist a buyer actually considers. The
    * 2-D skyline needs no dominance join: with `cheaper_max` = the
    * max size over all STRICTLY cheaper parts (a RANGE frame on price
    * ending 1 before the current price group), a part is on the front
    * iff its size exceeds that — equal-priced smaller-or-equal rows
    * are dominated by their own price group's max, handled by keeping
    * only each price group's (max size, min key) representative
    * first. The prefix max runs over the DISTINCT-PRICE profile via
    * [[DistributedRank.withRunningMaxExclusive]] (range-partitioned —
    * no global window even as the part dimension grows); the oracle
    * states dominance directly (NOT EXISTS), so the hash match proves
    * the one-pass form, including its tie handling. */
  def q192Skyline(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir).select(col("p_partkey"),
      expr("cast(round(p_retailprice * 100, 0) as bigint)").as("cents"),
      col("p_size"))
    // within a price group only the largest size can be on the front,
    // and among equal (price, size) every copy is (nothing separates
    // them on either axis — dominance requires one strict)
    val grp = parts.groupBy("cents")
      .agg(max(col("p_size")).cast("long").as("grp_max"))
    val grpWithPrefix = DistributedRank.withRunningMaxExclusive(
      grp, "grp_max", "cheaper_max", asc("cents"))
    parts.join(grpWithPrefix, Seq("cents"))
      .filter(col("p_size") === col("grp_max"))
      .filter(col("cheaper_max").isNull ||
        col("p_size") > col("cheaper_max"))
      .select(col("p_partkey"),
        round(col("cents") / 100.0, 2).as("price"), col("p_size"))
      .orderBy("p_partkey")
  }

  /** q358 — NATION TRADE-FLOW MATRIX: revenue flowing from each
    * customer nation to each supplier nation (the order's customer
    * buys a line item from the line's supplier), with each pair's NET
    * imbalance vs the reverse flow — the who-supplies-whom matrix a
    * sourcing planner reads before q339's one-dimensional share
    * shifts. Exact cents; the net join runs on the |nations|² profile.
    *
    * Scale shape: fact×dim equi-joins (orderkey, custkey, suppkey) +
    * one pair-profile self-join. */
  def q358TradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val flows = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("from_nation"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("to_nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("from_nation", "to_nation")
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("cents"))
    flows
      .join(broadcast(flows.select(col("from_nation").as("to_nation"),
        col("to_nation").as("from_nation"),
        col("cents").as("rev_cents"))),
        Seq("from_nation", "to_nation"), "left")
      .select(col("from_nation"), col("to_nation"), col("n_items"),
        col("cents"),
        (col("cents") - coalesce(col("rev_cents"), lit(0L)))
          .as("net_cents"))
      .orderBy("from_nation", "to_nation")
  }

  /** q363 — EXACT DISTRIBUTED MEDIAN of a fact column (lower/upper
    * order statistics + their exact midpoint) with NO global sort and
    * NO single-task window: the global ordinal comes from
    * [[DistributedRank]] (range-partition + zipWithIndex), the two
    * middle ranks are selected by one broadcast-scalar filter — the
    * scale-safe exact alternative to approx_percentile that q176/q213
    * class consumers can call when "approximately the median" is not
    * acceptable (fee schedules, SLA cut points). The oracle computes
    * the same order statistics by brute sort.
    *
    * Exactness: cents are exact BIGINTs; the midpoint is displayed
    * with ONE division of the exact lo+hi sum. */
  def q363ExactMedian(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(expr("cast(round(l_extendedprice * 100, 0) as bigint)")
        .as("cents"), col("l_orderkey"), col("l_linenumber"))
    val ranked = DistributedRank.withGlobalRank(cents, "ord",
      col("cents").asc, col("l_orderkey").asc, col("l_linenumber").asc)
    val bounds = broadcast(cents.agg(count(lit(1)).as("n"))
      .select(col("n"), expr("(n + 1) div 2").as("lo_rank"),
        expr("(n + 2) div 2").as("hi_rank")))
    ranked.crossJoin(bounds)
      .filter(col("ord") === col("lo_rank") ||
        col("ord") === col("hi_rank"))
      .groupBy("n")
      .agg(min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .select(col("n"), col("lo_cents"), col("hi_cents"),
        ((col("lo_cents") + col("hi_cents")).cast("double") / 200.0)
          .as("median_dollars"))
  }

  /** q366 — GROUPED EXACT MEDIAN (per market segment, of order
    * totals): the q363 distributed order-statistic recipe generalized
    * to groups — ONE global ordinal over (segment, cents, key) via
    * [[DistributedRank]], per-segment rank = ordinal − the segment's
    * min ordinal (broadcast join on the enum-sized profile, the q218
    * selection shape), then the two middle ranks per segment. No
    * global window, no per-group sort task: every physical partition
    * holds a bounded key range at any data size. */
  def q366GroupedMedian(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"),
        col("o_orderkey"))
    val ranked = DistributedRank.withGlobalRank(vals, "ord",
      col("segment").asc, col("cents").asc, col("o_orderkey").asc)
    val segs = ranked.groupBy("segment")
      .agg(min(col("ord")).as("base"), count(lit(1)).as("n_orders"))
      .withColumn("lo_rank", expr("(n_orders + 1) div 2"))
      .withColumn("hi_rank", expr("(n_orders + 2) div 2"))
    ranked.join(broadcast(segs), Seq("segment"))
      .withColumn("rn", col("ord") - col("base") + 1L)
      .filter(col("rn") === col("lo_rank") ||
        col("rn") === col("hi_rank"))
      .groupBy("segment", "n_orders")
      .agg(min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .select(col("segment"), col("n_orders"), col("lo_cents"),
        col("hi_cents"),
        ((col("lo_cents") + col("hi_cents")).cast("double") / 200.0)
          .as("median_dollars"))
      .orderBy("segment")
  }

  /** q373 quantile ladder (per-mille, exact rank = ⌈p·n/1000⌉). */
  private[graft] val QuantileLadder = Seq(500L, 900L, 990L)

  /** q373 — EXACT QUANTILE LADDER of order totals (p50/p90/p99) via
    * distributed selection: ONE [[DistributedRank.withGlobalRank]]
    * ordinal pass, then each ladder point selects its ⌈p·n⌉-th order
    * statistic with a broadcast-scalar rank filter — the q363 median
    * generalized to the percentile report a capacity/SLA dashboard
    * actually reads, still with no global sort and no single-task
    * window. Ranks are exact integer arithmetic ⌈p·n/1000⌉ =
    * (p·n + 999) div 1000. */
  def q373QuantileLadder(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)")
        .as("cents"), col("o_orderkey"))
    val ranked = DistributedRank.withGlobalRank(vals, "ord",
      col("cents").asc, col("o_orderkey").asc)
    val n = broadcast(vals.agg(count(lit(1)).as("n")))
    val ladder = QuantileLadder.map { p =>
      ranked.crossJoin(n)
        .filter(col("ord") === expr(s"($p * n + 999) div 1000"))
        .select(lit(p).as("per_mille"), col("cents"),
          (col("cents").cast("double") / 100.0).as("dollars"))
    }
    ladder.reduce(_ unionByName _).orderBy("per_mille")
  }

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
        |ORDER BY o_orderkey""".stripMargin),
    QueryDef("q49_approx_distinct", q49ApproxDistinct _,
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_15pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q50_stats_agg", q50StatsAgg _,
      """SELECT l_returnflag AS returnflag,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(stddev_samp(l_extendedprice), 4) AS stddev_price,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |       min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // json_keys (not hardcoded 'k'/1) so map_keys/size semantics are
    // actually differential-tested on multi-key props (ADVICE.md r01)
    QueryDef("q51_map_funcs", q51MapFuncs _,
      """SELECT event_id,
        |       json_keys(props)[1] AS first_key,
        |       CAST(len(json_keys(props)) AS INT) AS n_keys,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("q13_semi_join", q13SemiJoin _,
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q14_anti_join", q14AntiJoin _,
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND year(o.o_orderdate) = 1996)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q15_full_outer_join", q15FullOuterJoin _,
      """WITH a AS (SELECT o_custkey AS ck, count(*) AS cnt FROM orders
        |           WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |     b AS (SELECT o_custkey AS ck, count(*) AS cnt FROM orders
        |           WHERE year(o_orderdate) = 1997 GROUP BY 1)
        |SELECT coalesce(a.ck, b.ck) AS custkey,
        |       coalesce(a.cnt, 0) AS orders_1996,
        |       coalesce(b.cnt, 0) AS orders_1997
        |FROM a FULL OUTER JOIN b ON a.ck = b.ck
        |ORDER BY custkey""".stripMargin),
    QueryDef("q16_cross_join", q16CrossJoin _,
      """SELECT r_name AS region, returnflag
        |FROM region
        |CROSS JOIN (SELECT DISTINCT l_returnflag AS returnflag FROM lineitem)
        |ORDER BY region, returnflag""".stripMargin),
    QueryDef("q17_rollup", q17Rollup _,
      """SELECT coalesce(CAST(year(o_orderdate) AS INT), -1) AS sale_year,
        |       coalesce(CAST(quarter(o_orderdate) AS INT), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price,
        |       count(*) AS n_orders,
        |       CAST(grouping(year(o_orderdate)) AS INT) AS g_year,
        |       CAST(grouping(quarter(o_orderdate)) AS INT) AS g_quarter
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
        |ORDER BY sale_year, sale_quarter""".stripMargin),
    QueryDef("q18_cube", q18Cube _,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    QueryDef("q19_grouping_sets", q19GroupingSets _,
      """SELECT coalesce(CAST(year(o_orderdate) AS INT), -1) AS sale_year,
        |       coalesce(CAST(quarter(o_orderdate) AS INT), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (quarter(o_orderdate)), ())
        |ORDER BY sale_year, sale_quarter""".stripMargin),
    QueryDef("q20_window_rank", q20WindowRank _,
      """WITH rev AS (
        |  SELECT p_brand AS brand, p_partkey AS partkey,
        |         round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT brand, partkey, revenue,
        |         CAST(row_number() OVER w AS INT) AS rn,
        |         CAST(rank() OVER w AS INT) AS rnk,
        |         CAST(dense_rank() OVER w AS INT) AS drnk
        |  FROM rev
        |  WINDOW w AS (PARTITION BY brand ORDER BY revenue DESC, partkey ASC))
        |SELECT * FROM ranked WHERE rn <= 3 ORDER BY brand, rn""".stripMargin),
    QueryDef("q21_window_analytic", q21WindowAnalytic _,
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |       round(lag(revenue, 1) OVER w, 2) AS prev_revenue,
        |       round(lead(revenue, 1) OVER w, 2) AS next_revenue,
        |       round(sum(revenue) OVER (ORDER BY month
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running_total,
        |       round(avg(revenue) OVER (ORDER BY month
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_avg3
        |FROM monthly
        |WINDOW w AS (ORDER BY month)
        |ORDER BY month""".stripMargin),
    QueryDef("q22_set_ops", q22SetOps _,
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except,
        |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union""".stripMargin),
    QueryDef("q23_distinct_agg", q23DistinctAgg _,
      """SELECT n_name AS nation,
        |       coalesce(s.cnt, 0) AS n_suppliers,
        |       coalesce(c.cnt, 0) AS n_customers
        |FROM nation
        |LEFT JOIN (SELECT s_nationkey, count(DISTINCT s_suppkey) AS cnt
        |           FROM supplier GROUP BY 1) s ON s_nationkey = n_nationkey
        |LEFT JOIN (SELECT c_nationkey, count(DISTINCT c_custkey) AS cnt
        |           FROM customer GROUP BY 1) c ON c_nationkey = n_nationkey
        |ORDER BY nation""".stripMargin),
    QueryDef("q24_scalar_string", q24ScalarString _,
      """SELECT doc_id,
        |       length(text) AS text_len,
        |       substring(text, 1, 10) AS prefix10,
        |       regexp_extract(text, '^([a-z]+)', 1) AS first_word,
        |       upper(source) AS source_upper,
        |       lang || ':' || source AS lang_source
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q25_json", q25Json _,
      """SELECT event_type,
        |       count(*) AS n_events,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
        |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q108_variant_shred", q108VariantShred _,
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |       json_extract_string(props, '$.k') AS k_str,
        |       json_extract_string(props, '$.absent') AS absent_str,
        |       json_extract(props, '$.k') = 'null' AS k_is_json_null
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("q26_array_funcs", q26ArrayFuncs _,
      """SELECT vec_id,
        |       CAST(len(embedding) AS INT) AS dim,
        |       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
        |         AS vec_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    QueryDef("q27_date_funcs", q27DateFuncs _,
      """SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |       CAST(month(o_orderdate) AS INT) AS sale_month,
        |       count(*) AS n_orders,
        |       CAST(min(day(o_orderdate)) AS INT) AS min_day,
        |       CAST(max(day(o_orderdate)) AS INT) AS max_day
        |FROM orders
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q28_topk", q28TopK _,
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 20""".stripMargin),
    QueryDef("q29_range_join", q29RangeJoin _,
      """SELECT l_returnflag AS returnflag,
        |       count(*) AS n_rows,
        |       round(avg(delay_days), 6) AS avg_delay
        |FROM (SELECT l_returnflag,
        |             date_diff('day', CAST(o_orderdate AS DATE),
        |                       CAST(l_shipdate AS DATE)) AS delay_days
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |WHERE delay_days >= 0 AND delay_days <= 30
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q30_asof_join", q30AsofJoin _,
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup')
        |SELECT p.user_id AS user_id,
        |       count(*) AS n_purchases,
        |       count(s.ts) AS n_with_prior_signup
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q77_scalar_subquery", q77ScalarSubquery _,
      """SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |       CAST(quarter(o_orderdate) AS INT) AS sale_quarter,
        |       count(*) AS n_big_orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q74_theta_band_join", q74ThetaBandJoin _,
      """SELECT a.p_brand AS brand,
        |       count(*) AS n_pairs,
        |       round(avg(abs(a.p_size - b.p_size)), 6) AS avg_gap
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand
        | AND a.p_partkey < b.p_partkey
        | AND abs(a.p_size - b.p_size) <= 1
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q72_approx_percentile", q72ApproxPercentile _,
      """SELECT l_returnflag AS returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
        |       TRUE AS approx_within_1pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q70_asof_native", q70AsofNative _,
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup')
        |SELECT p.user_id AS user_id,
        |       count(*) AS n_purchases,
        |       count(s.ts) AS n_with_prior_signup
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q54_pivot", q54Pivot _,
      """SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |       round(sum(o_totalprice) FILTER (quarter(o_orderdate) = 1), 2) AS q1,
        |       round(sum(o_totalprice) FILTER (quarter(o_orderdate) = 2), 2) AS q2,
        |       round(sum(o_totalprice) FILTER (quarter(o_orderdate) = 3), 2) AS q3,
        |       round(sum(o_totalprice) FILTER (quarter(o_orderdate) = 4), 2) AS q4
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q55_unpivot", q55Unpivot _,
      """WITH wide AS (
        |  SELECT l_returnflag AS returnflag,
        |         round(sum(l_quantity), 2) AS sum_qty,
        |         round(sum(l_extendedprice), 2) AS sum_price,
        |         CAST(count(*) AS DOUBLE) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT returnflag, metric, value FROM (
        |  SELECT returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        |  UNION ALL
        |  SELECT returnflag, 'sum_price', sum_price FROM wide
        |  UNION ALL
        |  SELECT returnflag, 'n_rows', n_rows FROM wide)
        |ORDER BY returnflag, metric""".stripMargin),
    QueryDef("q56_percentiles", q56Percentiles _,
      """SELECT l_returnflag AS returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q57_corr_regr", q57CorrRegr _,
      """SELECT l_returnflag AS returnflag,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        |       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q58_conditional_agg", q58ConditionalAgg _,
      """SELECT c_mktsegment AS mktsegment,
        |       count(*) FILTER (c_acctbal > 5000) AS n_high_bal,
        |       count(*) FILTER (c_acctbal < 0) AS n_negative,
        |       bool_and(c_name IS NOT NULL) AS all_have_name,
        |       bool_or(c_acctbal > 9000) AS any_very_high
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q59_lateral_explode", q59LateralExplode _,
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, words[i] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS words,
        |             unnest(generate_series(1, len(string_split(text, ' ')))) AS i
        |      FROM documents WHERE doc_id % 200 = 0)
        |ORDER BY doc_id, pos""".stripMargin),
    QueryDef("q60_date_spine", q60DateSpine _,
      """SELECT o_orderkey,
        |       CAST(unnest(generate_series(
        |         CAST(date_trunc('month', o_orderdate) AS DATE),
        |         CAST(date_trunc('month', o_orderdate) AS DATE) + INTERVAL 3 MONTH,
        |         INTERVAL 1 MONTH)) AS DATE) AS month_start
        |FROM orders WHERE o_orderkey % 5000 = 0
        |ORDER BY o_orderkey, month_start""".stripMargin),
    QueryDef("q61_range_frame", q61RangeFrame _,
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents,
        |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day_num
        |  FROM orders GROUP BY 1, 3)
        |SELECT day,
        |       round(cents / 100.0, 2) AS revenue,
        |       round(sum(cents) OVER (ORDER BY day_num
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 2)
        |         AS trailing_7d
        |FROM daily ORDER BY day""".stripMargin),
    QueryDef("q62_ntile", q62Ntile _,
      """WITH rev AS (
        |  SELECT s_name AS rep_name, round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1)
        |SELECT rep_name, revenue,
        |       CAST(ntile(4) OVER w AS INT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume
        |FROM rev
        |WINDOW w AS (ORDER BY revenue DESC, rep_name ASC)
        |ORDER BY rep_name""".stripMargin),
    QueryDef("q63_value_windows", q63ValueWindows _,
      """WITH monthly AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |         CAST(month(o_orderdate) AS INT) AS sale_month,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1, 2)
        |SELECT sale_year, sale_month, revenue,
        |       first_value(revenue) OVER w AS first_month_rev,
        |       last_value(revenue) OVER w AS last_month_rev,
        |       nth_value(revenue, 2) OVER w AS second_month_rev
        |FROM monthly
        |WINDOW w AS (PARTITION BY sale_year ORDER BY sale_month
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY sale_year, sale_month""".stripMargin),
    QueryDef("q116_winsorize", q116Winsorize _,
      """WITH bounds AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.01) AS p01,
        |         quantile_cont(value, 0.99) AS p99
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN e.value < b.p01 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clipped_lo,
        |       CAST(sum(CASE WHEN e.value > b.p99 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clipped_hi,
        |       round(min(b.p01), 4) AS p01,
        |       round(min(b.p99), 4) AS p99,
        |       round(avg(least(greatest(e.value, b.p01), b.p99)), 4)
        |         AS winsorized_mean,
        |       round(avg(e.value), 4) AS raw_mean
        |FROM events e JOIN bounds b USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    QueryDef("q91_higher_moments", q91HigherMoments _,
      """SELECT l_returnflag AS returnflag, count(*) AS n,
        |       round(skewness(l_extendedprice)
        |             * (count(*) - 2)
        |             / sqrt(count(*) * (count(*) - 1.0)), 4) AS skew_pop,
        |       round(kurtosis_pop(l_extendedprice), 4) AS kurt_pop
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q88_asof_forward", q88AsofForward _,
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup'),
        |     p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT s.user_id, s.ts, p.ts AS p_ts
        |  FROM s ASOF LEFT JOIN p
        |    ON s.user_id = p.user_id AND p.ts >= s.ts),
        |m2 AS (
        |  SELECT user_id, ts,
        |         CASE WHEN p_ts IS NOT NULL
        |                AND epoch_us(p_ts) - epoch_us(ts)
        |                    <= CAST(604800000000 AS BIGINT)
        |              THEN p_ts END AS p_ts
        |  FROM m)
        |SELECT user_id, count(*) AS n_signups,
        |       count(p_ts) AS n_converted_7d,
        |       CAST(sum((epoch_us(p_ts) - epoch_us(ts)) // 1000000)
        |            AS BIGINT) AS sum_gap_sec
        |FROM m2 GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q85_histogram", q85Histogram _,
      """WITH bounds AS (
        |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |  FROM lineitem)
        |SELECT CASE WHEN hi = lo THEN 0
        |            ELSE least(19, CAST(floor((l_extendedprice - lo) * 20.0
        |                                      / (hi - lo)) AS INT)) END
        |         AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_price_cents
        |FROM lineitem CROSS JOIN bounds
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q192_skyline", q192Skyline _,
      """WITH parts AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents,
        |         p_size
        |  FROM part)
        |SELECT p_partkey, round(cents / 100.0, 2) AS price, p_size
        |FROM parts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM parts b
        |  WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        |    AND (b.cents < a.cents OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin),
    QueryDef("q358_trade_flows", q358TradeFlows _,
      """WITH flows AS (
        |  SELECT c.c_nationkey AS from_nation, s.s_nationkey AS to_nation,
        |         CAST(count(*) AS BIGINT) AS n_items,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT f.from_nation, f.to_nation, f.n_items, f.cents,
        |       f.cents - coalesce(r.cents, 0) AS net_cents
        |FROM flows f
        |LEFT JOIN flows r ON r.from_nation = f.to_nation
        |                 AND r.to_nation = f.from_nation
        |ORDER BY f.from_nation, f.to_nation""".stripMargin),
    QueryDef("q363_exact_median", q363ExactMedian _,
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           AS cents,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |ranked AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents, l_orderkey,
        |                                   l_linenumber) AS r
        |  FROM c)
        |SELECT (SELECT n FROM n) AS n,
        |       CAST(min(cents) AS BIGINT) AS lo_cents,
        |       CAST(max(cents) AS BIGINT) AS hi_cents,
        |       CAST(min(cents) + max(cents) AS DOUBLE) / 200.0
        |         AS median_dollars
        |FROM ranked
        |WHERE r = ((SELECT n FROM n) + 1) // 2
        |   OR r = ((SELECT n FROM n) + 2) // 2""".stripMargin),
    QueryDef("q366_grouped_median", q366GroupedMedian _,
      """WITH vals AS (
        |  SELECT c.c_mktsegment AS segment,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         o_orderkey
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |ranked AS (
        |  SELECT segment, cents,
        |         row_number() OVER (PARTITION BY segment
        |                            ORDER BY cents, o_orderkey) AS rn,
        |         count(*) OVER (PARTITION BY segment) AS n_orders
        |  FROM vals)
        |SELECT segment, CAST(max(n_orders) AS BIGINT) AS n_orders,
        |       CAST(min(cents) AS BIGINT) AS lo_cents,
        |       CAST(max(cents) AS BIGINT) AS hi_cents,
        |       CAST(min(cents) + max(cents) AS DOUBLE) / 200.0
        |         AS median_dollars
        |FROM ranked
        |WHERE rn = (n_orders + 1) // 2 OR rn = (n_orders + 2) // 2
        |GROUP BY segment ORDER BY segment""".stripMargin),
    QueryDef("q373_quantile_ladder", q373QuantileLadder _,
      {
      val arms = QuantileLadder.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS per_mille, cents,
           |       CAST(cents AS DOUBLE) / 100.0 AS dollars
           |FROM ranked
           |WHERE r = ($p * (SELECT n FROM n) + 999)
           |        // 1000""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH c AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         o_orderkey
        |  FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |ranked AS (
        |  SELECT cents,
        |         row_number() OVER (ORDER BY cents, o_orderkey) AS r
        |  FROM c)
        |SELECT * FROM (
        |$arms)
        |ORDER BY per_mille""".stripMargin
    }))
}
