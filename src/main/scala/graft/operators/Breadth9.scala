package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-11 breadth, fifth batch: ABC revenue classification on
  * the distributed prefix-sum primitive (q370), a duplicate-invoice
  * fraud scan (q371), the q368 recognition-horizon tripwire (q372),
  * and an exact distributed quantile ladder (q373). */
object Breadth9 {

  /** q370 — ABC REVENUE CLASSIFICATION of parts: items sorted by
    * revenue descending, class A while the INCLUSIVE cumulative share
    * is ≤ 80%, B to 95%, else C (the standard inventory-control
    * stratification; q185's deciles cut by COUNT — ABC cuts by value
    * mass, which is what cycle-count and stocking policies key on).
    * The cumulative comes from [[DistributedRank.withRunningTotal]] —
    * the two-pass distributed prefix sum (per-partition sums + driver
    * offsets, #partitions scalars) — so no single-task window touches
    * the part dimension at any scale. Class thresholds are exact
    * integer comparisons (cum·5 ≤ total·4, cum·20 ≤ total·19).
    *
    * Scale shape: one fact fold to the part profile, one prefix-sum
    * pass over it, 3-row output. */
  def q370AbcClassification(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .as("cents"))
    val running = DistributedRank.withRunningTotal(byPart, "cents",
      "cum_cents", col("cents").desc, col("part").asc)
    running
      .crossJoin(broadcast(byPart.agg(sum(col("cents")).as("total"))))
      .withColumn("abc_class",
        when(col("cum_cents") * 5L <= col("total") * 4L, "A")
          .when(col("cum_cents") * 20L <= col("total") * 19L, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
        max(col("total")).as("total"))
      .select(col("abc_class"), col("n_parts"), col("cents"),
        round(col("cents").cast("double") / col("total"), 6)
          .as("revenue_share"))
      .orderBy("abc_class")
  }

  /** q371 duplicate-invoice window (days). */
  private[graft] val DupInvoiceWindowDays = 7

  /** q371 — DUPLICATE-INVOICE SCAN: pairs of orders by the SAME
    * customer for the IDENTICAL amount within
    * [[DupInvoiceWindowDays]] days — the classic accounts-payable
    * double-payment audit (q31's exact dedup catches identical
    * documents; this catches identical MONEY EVENTS, which is a
    * different fraud/ops surface). Candidates come from an equi-join
    * on the (customer, exact cents) content key — amount equality IS
    * the blocking key, so the pair set is bounded by amount-collision
    * groups, never customers² — then the day-window predicate
    * filters. Reported as the audit aggregate: suspect pairs, distinct
    * later orders (the ones a clerk would hold), and the cents at
    * risk.
    *
    * Scale shape: one self-equi-join on (custkey, cents) + a distinct
    * fold; single-row output. */
  def q371DuplicateInvoice(spark: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"),
        col("o_orderkey").as("okey"), to_date(col("o_orderdate")).as("d"))
    val pairs = ords.select(col("cust"), col("cents"),
        col("okey").as("k1"), col("d").as("d1"))
      .join(ords.select(col("cust"), col("cents"), col("okey").as("k2"),
        col("d").as("d2")), Seq("cust", "cents"))
      .filter(col("k1") < col("k2") &&
        abs(datediff(col("d2"), col("d1"))) <= DupInvoiceWindowDays)
    // the "later" order of a pair = larger key on a date tie, else the
    // later date — the one a reviewer holds
    val later = pairs.select(col("cents"),
      when(col("d2") > col("d1") ||
        (col("d2") === col("d1") && col("k2") > col("k1")), col("k2"))
        .otherwise(col("k1")).as("held"))
    pairs.agg(count(lit(1)).as("n_suspect_pairs"))
      .crossJoin(broadcast(later.select("held", "cents").distinct()
        .agg(count(lit(1)).as("n_held_orders"),
          sum(col("cents")).as("cents_at_risk"))))
      .select(col("n_suspect_pairs"),
        coalesce(col("n_held_orders"), lit(0L)).as("n_held_orders"),
        coalesce(col("cents_at_risk"), lit(0L)).as("cents_at_risk"))
  }

  /** q372 — RECOGNITION-HORIZON TRIPWIRE: q368 allocates revenue over
    * a service period CAPPED at [[Breadth8.RecognitionHorizonDays]] —
    * a declared policy whose bite must be MONITORED, not assumed (the
    * q346 bounded-basket precedent): this registers the capped share
    * (lines whose raw interval exceeded the horizon), the capped
    * revenue mass, and the raw-span mean, so a corpus drift that
    * pushes most mass past the horizon trips loudly in the
    * correctness gate instead of silently distorting the ledger.
    * Exact integers + single divisions. */
  def q372HorizonAudit(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"), to_date(col("l_shipdate")).as("ship"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("cents"),
        (datediff(greatest(col("ord"), col("ship")),
          least(col("ord"), col("ship"))) + 1).cast("long")
          .as("raw_days"))
    spans.agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("raw_days") > Breadth8.RecognitionHorizonDays, 1L)
          .otherwise(0L)).as("n_capped"),
        sum(when(col("raw_days") > Breadth8.RecognitionHorizonDays,
          col("cents")).otherwise(0L)).as("capped_cents"),
        sum(col("cents")).as("total_cents"),
        sum(col("raw_days")).as("sum_raw_days"))
      .select(col("n_lines"), col("n_capped"),
        round(col("n_capped").cast("double") / col("n_lines"), 6)
          .as("capped_line_share"),
        round(col("capped_cents").cast("double") / col("total_cents"), 6)
          .as("capped_value_share"),
        round(col("sum_raw_days").cast("double") / col("n_lines"), 6)
          .as("mean_raw_span_days"),
        lit(Breadth8.RecognitionHorizonDays).as("horizon_days"))
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
    QueryDef("q370_abc_classification", q370AbcClassification _,
      """WITH by_part AS (
        |  SELECT l_partkey AS part,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |running AS (
        |  SELECT part, cents,
        |         CAST(sum(cents) OVER (ORDER BY cents DESC, part
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |         CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM by_part),
        |classed AS (
        |  SELECT CASE WHEN cum_cents * 5 <= total * 4 THEN 'A'
        |              WHEN cum_cents * 20 <= total * 19 THEN 'B'
        |              ELSE 'C' END AS abc_class,
        |         cents, total
        |  FROM running)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(cents) AS BIGINT) AS cents,
        |       round(CAST(sum(cents) AS DOUBLE) / max(total), 6)
        |         AS revenue_share
        |FROM classed GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q371_duplicate_invoice", q371DuplicateInvoice _,
      s"""WITH ords AS (
        |  SELECT o_custkey AS cust,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         o_orderkey AS okey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |pairs AS (
        |  SELECT a.cents, a.okey AS k1, b.okey AS k2, a.d AS d1,
        |         b.d AS d2
        |  FROM ords a JOIN ords b
        |    ON a.cust = b.cust AND a.cents = b.cents
        |   AND a.okey < b.okey
        |   AND abs(date_diff('day', a.d, b.d))
        |         <= $DupInvoiceWindowDays),
        |later AS (
        |  SELECT DISTINCT cents,
        |         CASE WHEN d2 > d1 OR (d2 = d1 AND k2 > k1) THEN k2
        |              ELSE k1 END AS held
        |  FROM pairs),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_held_orders,
        |               CAST(sum(cents) AS BIGINT) AS cents_at_risk
        |        FROM later)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs)
        |         AS n_suspect_pairs,
        |       coalesce(a.n_held_orders, 0) AS n_held_orders,
        |       coalesce(a.cents_at_risk, 0) AS cents_at_risk
        |FROM agg a""".stripMargin),
    QueryDef("q372_horizon_audit", q372HorizonAudit _,
      {
      val h = Breadth8.RecognitionHorizonDays
      s"""WITH spans AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           AS cents,
        |         date_diff('day',
        |           least(CAST(o.o_orderdate AS DATE),
        |                 CAST(l.l_shipdate AS DATE)),
        |           greatest(CAST(o.o_orderdate AS DATE),
        |                    CAST(l.l_shipdate AS DATE))) + 1 AS raw_days
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN raw_days > $h THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_capped,
        |       round(CAST(sum(CASE WHEN raw_days > $h THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS capped_line_share,
        |       round(CAST(sum(CASE WHEN raw_days > $h THEN cents
        |                       ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(cents) AS BIGINT), 6)
        |         AS capped_value_share,
        |       round(CAST(sum(raw_days) AS DOUBLE) / count(*), 6)
        |         AS mean_raw_span_days,
        |       $h AS horizon_days
        |FROM spans""".stripMargin
    }),
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
