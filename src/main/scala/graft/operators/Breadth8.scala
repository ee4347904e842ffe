package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-11 breadth, fourth batch — exact financial/ops
  * allocation operators: grouped exact median (q366), penny-exact
  * proration (q367), calendarized revenue recognition (q368), and an
  * open-order aging snapshot (q369). All integer-exact end to end:
  * every allocation is floor-share + largest-remainder so group sums
  * reconcile EXACTLY (the q364 Hamilton discipline — a financial
  * ledger that is off by a penny is wrong, not approximate). */
object Breadth8 {

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

  /** q367 — PENNY-EXACT PRORATION AUDIT: allocate each order's header
    * total across its line items proportionally to extended price, in
    * whole cents, with the largest-remainder top-up INSIDE each order
    * (per-order windows over ≤7 lines) — the classic financial
    * allocation where Σ line allocations MUST equal the header total
    * for every order (taxes/discounts make the header differ from the
    * line sum, which is exactly why naive rounding drifts). Registered
    * as its reconciliation audit: counts, the exactness boolean
    * (bool_and over per-order sums), and the topped-up line count.
    *
    * Exactness: all arithmetic is BIGINT (products ≤ cents² < 2⁶³ at
    * every graded scale — header ≤ ~6e6 cents, line share the same);
    * no double appears anywhere. */
  def q367PennyProration(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("line_cents"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)")
          .as("total_cents"))
    val wOrd = Window.partitionBy("l_orderkey")
    val based = lines.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("order_line_sum", sum(col("line_cents")).over(wOrd))
      .withColumn("base",
        expr("total_cents * line_cents div order_line_sum"))
      .withColumn("rem",
        expr("(total_cents * line_cents) % order_line_sum"))
      .withColumn("rem_rank", row_number().over(
        wOrd.orderBy(col("rem").desc, col("l_linenumber").asc)))
      .withColumn("short",
        col("total_cents") - sum(col("base")).over(wOrd))
      .withColumn("alloc",
        col("base") + when(col("rem_rank") <= col("short"), 1L)
          .otherwise(0L))
    val perOrder = based.groupBy("l_orderkey", "total_cents")
      .agg(sum(col("alloc")).as("alloc_sum"),
        count(lit(1)).as("n_lines"),
        sum(when(col("rem_rank") <= col("short"), 1L).otherwise(0L))
          .as("topped"))
    perOrder.agg(
        count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("n_lines"),
        sum(col("topped")).as("n_topped_up"),
        expr("bool_and(alloc_sum = total_cents)")
          .as("allocation_exact"),
        sum(col("total_cents")).as("total_allocated_cents"))
  }

  /** q368 — CALENDARIZED REVENUE RECOGNITION: spread each line item's
    * revenue across the months between order date and ship date
    * proportionally to OVERLAP DAYS, penny-exact per line
    * (largest-remainder across the line's ≤ handful of months,
    * per-line windows), then fold to the monthly recognized-revenue
    * ledger — the accrual-accounting view the cash-dated q03/q08
    * trends cannot give. Σ over months of each line's recognition
    * equals its cents EXACTLY, so the ledger footer reconciles to the
    * fact table to the penny (spec law).
    *
    * Exactness: day counts and all allocation arithmetic are BIGINT;
    * the only double is the final share display division. */
  /** q368 recognition horizon in days (declared accounting policy;
    * also the constant bounding the per-line month fan-out). */
  private[graft] val RecognitionHorizonDays = 182

  def q368RevenueRecognition(spark: SparkSession, dir: String): DataFrame = {
    // the corpus carries DUPLICATE (orderkey, linenumber) rows (the
    // reference's duplicate-txn ingest quirk) — the allocation unit is
    // the (order, line, ship) GROUP with duplicates' cents merged
    // (identical service interval), or a per-line window would
    // silently fuse two distinct lines' remainders
    val spans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("line_cents"), to_date(col("l_shipdate")).as("ship"))
      .groupBy("l_orderkey", "l_linenumber", "ship")
      .agg(sum(col("line_cents")).as("cents"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord")),
        col("l_orderkey") === col("o_orderkey"))
      // the synthetic corpus has ship dates INDEPENDENT of order
      // dates (some precede them) — normalize the service period to
      // [least, greatest] so the interval is always valid
      .withColumn("d1", least(col("ord"), col("ship")))
      // recognition horizon (declared policy, [[RecognitionHorizonDays]]):
      // the service period is capped — this also BOUNDS the per-line
      // month fan-out by a constant, which is the operator's 100 TB
      // scale contract (the raw synthetic intervals span years)
      .withColumn("d2", least(greatest(col("ord"), col("ship")),
        date_add(col("d1"), RecognitionHorizonDays - 1)))
      .withColumn("total_days",
        (datediff(col("d2"), col("d1")) + 1).cast("long"))
    val monthly = spans
      .select(col("l_orderkey"), col("l_linenumber"), col("ship"),
        col("cents"), col("d1"), col("d2"), col("total_days"),
        explode(expr(
          "sequence(trunc(d1, 'MM'), trunc(d2, 'MM'), interval 1 month)"))
          .as("month"))
      .withColumn("days", (datediff(
          least(col("d2"), last_day(col("month"))),
          greatest(col("d1"), col("month"))) + 1).cast("long"))
      .withColumn("base", expr("cents * days div total_days"))
      .withColumn("rem", expr("(cents * days) % total_days"))
    // Largest-remainder allocation in ONE WindowExec: rank and
    // partition-total share the same (partition, order) spec — the
    // rank's ROW frame and the total's UNBOUNDED frame compile into a
    // single window node over one shuffle + one sort (r11 ran two
    // Window passes, 3.86→19.03s at 10×; a collect_list fold measured
    // WORSE, 7.2→42s — object aggregation beats codegen'd window
    // processing at no point on this shape). Arithmetic unchanged.
    val wOrd = Window.partitionBy("l_orderkey", "l_linenumber", "ship")
      .orderBy(col("rem").desc, col("month").asc)
    val alloc = monthly
      .withColumn("rem_rank", row_number().over(wOrd))
      .withColumn("part_base", sum(col("base")).over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("rec",
        col("base") + when(
          col("rem_rank") <= col("cents") - col("part_base"), 1L)
          .otherwise(0L))
    val byMonth = alloc.groupBy(date_format(col("month"), "yyyy-MM")
        .as("month"))
      .agg(sum(col("rec")).as("recognized_cents"),
        count(lit(1)).as("n_line_months"))
    byMonth
      .crossJoin(broadcast(byMonth.agg(
        sum(col("recognized_cents")).as("grand_cents"))))
      .select(col("month"), col("recognized_cents"),
        col("n_line_months"),
        round(col("recognized_cents").cast("double") /
          col("grand_cents"), 6).as("share"))
      .orderBy("month")
  }

  /** q369 aging bucket edges in days (inclusive upper bounds; the
    * last bucket is open-ended). */
  private[graft] val AgingEdges = Seq(7L, 30L, 60L)

  /** q369 — OPEN-ORDER AGING SNAPSHOT: at the corpus's midpoint date,
    * every order placed but not yet fully shipped (fulfilment = max
    * line ship date, the q342 convention), bucketed by age into the
    * standard 0–7 / 8–30 / 31–60 / 61+ receivables-style report with
    * counts, exact value cents, and shares — the backlog snapshot an
    * ops dashboard draws next to q333's SLA rates. Zero-filled 4-row
    * spine so the report shape is fixed.
    *
    * Exactness: the snapshot date is integer date arithmetic from
    * min/max order dates; ages and buckets are exact integers. */
  def q369OpenOrderAging(spark: SparkSession, dir: String): DataFrame = {
    val fulfil = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("fulfilled"))
    val ords = Tables.orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val snap = ords.agg(expr(
      "date_add(min(ord), cast(datediff(max(ord), min(ord)) div 2 as int))")
      .as("snap"))
    val open = ords
      .join(fulfil, col("o_orderkey") === col("l_orderkey"))
      .crossJoin(broadcast(snap))
      .filter(col("ord") <= col("snap") && col("fulfilled") > col("snap"))
      .withColumn("age", datediff(col("snap"), col("ord")).cast("long"))
      .withColumn("bucket",
        when(col("age") <= AgingEdges(0), "a_0_7")
          .when(col("age") <= AgingEdges(1), "b_8_30")
          .when(col("age") <= AgingEdges(2), "c_31_60")
          .otherwise("d_61_plus"))
    val spine = spark.createDataset(
      Seq("a_0_7", "b_8_30", "c_31_60", "d_61_plus"))(
      org.apache.spark.sql.Encoders.STRING).toDF("bucket")
    val agg = open.groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    spine.join(agg, Seq("bucket"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .withColumn("cents", coalesce(col("cents"), lit(0L)))
      .crossJoin(broadcast(agg.agg(sum(col("cents")).as("tot"),
        sum(col("n_orders")).as("tot_n"))))
      .select(col("bucket"), col("n_orders"), col("cents"),
        round(col("cents").cast("double") / col("tot"), 6)
          .as("value_share"))
      .orderBy("bucket")
  }

  val defs: Seq[QueryDef] = Seq(
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
    QueryDef("q367_penny_proration", q367PennyProration _,
      """WITH lines AS (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           AS line_cents,
        |         o.total_cents
        |  FROM lineitem l
        |  JOIN (SELECT o_orderkey,
        |               CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                 AS total_cents
        |        FROM orders) o ON o.o_orderkey = l.l_orderkey),
        |based AS (
        |  SELECT l_orderkey, l_linenumber, total_cents,
        |         total_cents * line_cents
        |           // sum(line_cents) OVER (PARTITION BY l_orderkey)
        |           AS base,
        |         (total_cents * line_cents)
        |           % sum(line_cents) OVER (PARTITION BY l_orderkey)
        |           AS rem
        |  FROM lines),
        |ranked AS (
        |  SELECT l_orderkey, total_cents, base,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY rem DESC, l_linenumber) AS rem_rank,
        |         total_cents - sum(base) OVER (PARTITION BY l_orderkey)
        |           AS short
        |  FROM based),
        |alloc AS (
        |  SELECT l_orderkey, total_cents,
        |         base + CASE WHEN rem_rank <= short THEN 1 ELSE 0 END
        |           AS alloc,
        |         CASE WHEN rem_rank <= short THEN 1 ELSE 0 END AS topped
        |  FROM ranked),
        |per_order AS (
        |  SELECT l_orderkey, total_cents,
        |         CAST(sum(alloc) AS BIGINT) AS alloc_sum,
        |         count(*) AS n_lines,
        |         CAST(sum(topped) AS BIGINT) AS topped
        |  FROM alloc GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |       CAST(sum(topped) AS BIGINT) AS n_topped_up,
        |       bool_and(alloc_sum = total_cents) AS allocation_exact,
        |       CAST(sum(total_cents) AS BIGINT)
        |         AS total_allocated_cents
        |FROM per_order""".stripMargin),
    QueryDef("q368_revenue_recognition", q368RevenueRecognition _,
      """WITH units AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_shipdate AS DATE) AS ship,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2, 3),
        |spans AS (
        |  SELECT u.l_orderkey, u.l_linenumber, u.cents, u.ship,
        |         CAST(o.o_orderdate AS DATE) AS ord
        |  FROM units u JOIN orders o ON o.o_orderkey = u.l_orderkey),
        |norm AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents,
        |         least(ord, ship) AS d1,
        |         least(greatest(ord, ship),
        |               least(ord, ship) + 181) AS d2
        |  FROM spans),
        |monthly AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents, d1, d2,
        |         date_diff('day', d1, d2) + 1 AS total_days,
        |         CAST(unnest(generate_series(date_trunc('month', d1),
        |           date_trunc('month', d2), INTERVAL 1 MONTH)) AS DATE)
        |           AS month
        |  FROM norm),
        |sized AS (
        |  SELECT *,
        |         date_diff('day', greatest(d1, month),
        |                   least(d2, last_day(month))) + 1 AS days
        |  FROM monthly),
        |based AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents, month,
        |         cents * days // total_days AS base,
        |         (cents * days) % total_days AS rem
        |  FROM sized),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY l_orderkey,
        |             l_linenumber, ship
        |           ORDER BY rem DESC, month) AS rem_rank,
        |         cents - sum(base) OVER (PARTITION BY l_orderkey,
        |                                 l_linenumber, ship) AS short
        |  FROM based),
        |alloc AS (
        |  SELECT strftime(month, '%Y-%m') AS month,
        |         base + CASE WHEN rem_rank <= short THEN 1 ELSE 0 END
        |           AS rec
        |  FROM ranked),
        |by_month AS (
        |  SELECT month, CAST(sum(rec) AS BIGINT) AS recognized_cents,
        |         CAST(count(*) AS BIGINT) AS n_line_months
        |  FROM alloc GROUP BY 1)
        |SELECT month, recognized_cents, n_line_months,
        |       round(CAST(recognized_cents AS DOUBLE) /
        |             (SELECT sum(recognized_cents) FROM by_month), 6)
        |         AS share
        |FROM by_month ORDER BY month""".stripMargin),
    QueryDef("q369_open_order_aging", q369OpenOrderAging _,
      """WITH ords AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS ord,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |snap AS (
        |  SELECT min(ord) + CAST(date_diff('day', min(ord), max(ord))
        |    // 2 AS INT) AS snap FROM ords),
        |fulfil AS (
        |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS fulfilled
        |  FROM lineitem GROUP BY 1),
        |open_orders AS (
        |  SELECT o.cents,
        |         date_diff('day', o.ord, (SELECT snap FROM snap)) AS age
        |  FROM ords o JOIN fulfil f ON f.l_orderkey = o.o_orderkey
        |  WHERE o.ord <= (SELECT snap FROM snap)
        |    AND f.fulfilled > (SELECT snap FROM snap)),
        |bucketed AS (
        |  SELECT CASE WHEN age <= 7 THEN 'a_0_7'
        |              WHEN age <= 30 THEN 'b_8_30'
        |              WHEN age <= 60 THEN 'c_31_60'
        |              ELSE 'd_61_plus' END AS bucket,
        |         cents
        |  FROM open_orders),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM bucketed GROUP BY 1),
        |spine(bucket) AS (VALUES ('a_0_7'), ('b_8_30'), ('c_31_60'),
        |                         ('d_61_plus'))
        |SELECT s.bucket,
        |       CAST(coalesce(a.n_orders, 0) AS BIGINT) AS n_orders,
        |       CAST(coalesce(a.cents, 0) AS BIGINT) AS cents,
        |       round(CAST(coalesce(a.cents, 0) AS DOUBLE) /
        |             (SELECT sum(cents) FROM agg), 6) AS value_share
        |FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
        |ORDER BY s.bucket""".stripMargin))
}
