package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-11 breadth, third batch: exact distributed median
  * (q363), Neyman-optimal stratified allocation (q364), and the
  * log-rank two-sample survival test (q365). */
object Breadth7 {

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

  /** q364 total sample budget (pinned design parameter). */
  private[graft] val NeymanBudget = 1000L

  /** q364 — NEYMAN-OPTIMAL STRATIFIED ALLOCATION: split a fixed
    * sample budget across the market-segment strata proportionally to
    * N_h·S_h (stratum size × stratum standard deviation — the
    * variance-minimizing allocation, Neyman 1934; q53's proportional
    * split ignores within-stratum spread and oversamples homogeneous
    * strata). Integerization is LARGEST-REMAINDER (Hamilton): floor
    * shares first, then +1 to the strata with the largest remainders
    * until the budget is exact — so Σ alloc == budget always.
    *
    * Exactness: stratum moments fold as exact integers with the
    * n·Σx² product in decimal(38) (the q286 overflow rule); S_h is
    * one sqrt of an exact ratio, micro-rounded ONCE into an integer
    * weight; every allocation step after that (floor share,
    * remainder, ranking, top-up) is pure integer arithmetic on the
    * 5-row stratum profile via a grouping-less collect fold — no
    * window, no float order. */
  def q364NeymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val strata = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"),
        expr("cast(round(c_acctbal * 100, 0) as bigint)").as("x"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_members"), sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .withColumn("s2", (col("n_members").cast("decimal(38,0)") *
          col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx")).cast("double") /
        (col("n_members").cast("double") * col("n_members").cast("double") *
          (col("n_members").cast("double") - 1.0)))
      .withColumn("weight", expr(
        "cast(round(n_members * sqrt(s2), 0) as bigint)"))
    val prof = strata.select(col("segment"), col("n_members"),
      expr("weight div n_members").as("sd_cents"), col("weight"))
    val based = prof
      .crossJoin(broadcast(prof.agg(sum(col("weight")).as("tw"))))
      .withColumn("base_alloc", expr(s"$NeymanBudget * weight div tw"))
      .withColumn("rem", expr(s"($NeymanBudget * weight) % tw"))
    based
      .crossJoin(broadcast(based.agg(
        (lit(NeymanBudget) - sum(col("base_alloc"))).as("n_extra"),
        expr("collect_list(struct(rem, segment))").as("lst"))))
      // largest-remainder rank by (rem desc, segment asc) computed as
      // a count over the collected 5-row profile — no window
      .withColumn("rem_rank", expr(
        """size(filter(lst, t -> t.rem > rem OR
          |  (t.rem = rem AND t.segment < segment))) + 1""".stripMargin))
      .select(col("segment"), col("n_members"), col("sd_cents"),
        col("weight"), col("base_alloc"),
        (col("base_alloc") +
          when(col("rem_rank") <= col("n_extra"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("segment")
  }

  /** q365 — LOG-RANK TWO-SAMPLE SURVIVAL TEST on days-to-ship:
    * "event" = the line item ships, time = days from order date,
    * groups = urgent orders (priority 1–2) vs the rest — does paying
    * for priority actually shift the whole time-to-event curve, the
    * significance verdict behind q333's SLA conformance rates and
    * q342's span percentiles. The classic Mantel–Haenszel statistic
    * over the day spine: U = Σ_t (d₁(t) − d(t)·n₁(t)/n(t)),
    * V = Σ_t n₁n₂d(n−d)/(n²(n−1)), χ² = U²/V with 1 df (all subjects
    * ship inside the corpus window, so no censoring arm is needed —
    * the q235 conventions otherwise).
    *
    * Exactness: at-risk and death counts are exact integers built
    * from the (group, days) profile; each t's U and V terms are
    * single exact-integer-ratio expressions micro-quantized to BIGINT
    * before the fold; χ² is formed from the two final scalars.
    *
    * Scale shape: one fact-grain fold to the (group, days) profile
    * (≤ 2·|days| rows); the at-risk spine ≤-join is profile ×
    * profile (BnljAllow-documented). */
  def q365LogrankTest(spark: SparkSession, dir: String): DataFrame = {
    val lifes = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
          .as("g1"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("life"))
    // (group, days-to-ship) profile — ≤ 2·|days| rows
    val prof = lifes.groupBy("g1", "life").agg(count(lit(1)).as("cnt"))
    val spine = prof.select(col("life").as("t")).distinct()
    val at = spine.join(broadcast(prof), col("life") >= col("t"))
      .groupBy("t")
      .agg(sum(when(col("g1") === 1, col("cnt")).otherwise(0L)).as("n1"),
        sum(col("cnt")).as("n"),
        sum(when(col("g1") === 1 && col("life") === col("t"), col("cnt"))
          .otherwise(0L)).as("d1"),
        sum(when(col("life") === col("t"), col("cnt")).otherwise(0L))
          .as("d"))
      .filter(col("n") >= 2L && col("d") > 0L)
    val terms = at
      .withColumn("u_micro", expr(
        "cast(round((cast(d1 as double) - cast(d as double) * n1 / n) " +
          "* 1e6, 0) as bigint)"))
      .withColumn("v_micro", expr(
        "cast(round(cast(n1 as double) * (n - n1) * d * (n - d) " +
          "/ (cast(n as double) * n * (n - 1)) * 1e6, 0) as bigint)"))
    val pop = lifes.agg(
      sum(col("g1").cast("long")).as("n1_subjects"),
      count(lit(1)).as("n_subjects"))
    terms
      .agg(sum(col("u_micro")).as("u_micro"),
        sum(col("v_micro")).as("v_micro"))
      .crossJoin(broadcast(pop))
      .select(col("n1_subjects"),
        (col("n_subjects") - col("n1_subjects")).as("n2_subjects"),
        col("u_micro"), col("v_micro"),
        round(col("u_micro").cast("double") * col("u_micro") /
          col("v_micro").cast("double") / 1e6, 6).as("chi2"))
  }

  val defs: Seq[QueryDef] = Seq(
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
    QueryDef("q364_neyman_allocation", q364NeymanAllocation _,
      {
      val b = NeymanBudget
      s"""WITH strata AS (
        |  SELECT c_mktsegment AS segment,
        |         CAST(count(*) AS BIGINT) AS n_members,
        |         CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
        |              AS BIGINT) AS sx,
        |         sum(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT)
        |                  AS HUGEINT)
        |             * CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS sxx
        |  FROM customer GROUP BY 1),
        |weighted AS (
        |  SELECT segment, n_members,
        |         CAST(round(n_members * sqrt(
        |           CAST(CAST(n_members AS HUGEINT) * sxx
        |                - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |           / (CAST(n_members AS DOUBLE) * CAST(n_members AS DOUBLE)
        |              * (CAST(n_members AS DOUBLE) - 1.0))), 0) AS BIGINT)
        |           AS weight
        |  FROM strata),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw,
        |               CAST(sum($b * weight // (SELECT CAST(sum(weight)
        |                 AS BIGINT) FROM weighted)) AS BIGINT) AS tb
        |        FROM weighted),
        |ranked AS (
        |  SELECT segment, n_members, weight,
        |         weight // n_members AS sd_cents,
        |         $b * weight // (SELECT tw FROM tot) AS base_alloc,
        |         ($b * weight) % (SELECT tw FROM tot) AS rem,
        |         row_number() OVER (
        |           ORDER BY ($b * weight) % (SELECT tw FROM tot) DESC,
        |                    segment) AS rem_rank
        |  FROM weighted)
        |SELECT segment, n_members, sd_cents, weight, base_alloc,
        |       base_alloc + CASE WHEN rem_rank <=
        |           $b - (SELECT tb FROM tot) THEN 1 ELSE 0 END AS alloc
        |FROM ranked ORDER BY segment""".stripMargin
    }),
    QueryDef("q365_logrank_test", q365LogrankTest _,
      """WITH lifes AS (
        |  SELECT CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |              THEN 1 ELSE 0 END AS g1,
        |         date_diff('day', CAST(o.o_orderdate AS DATE),
        |                   CAST(l.l_shipdate AS DATE)) AS life
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |prof AS (
        |  SELECT g1, life, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lifes GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT life AS t FROM prof),
        |at AS (
        |  SELECT s.t,
        |         CAST(sum(CASE WHEN p.g1 = 1 THEN p.cnt ELSE 0 END)
        |              AS BIGINT) AS n1,
        |         CAST(sum(p.cnt) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN p.g1 = 1 AND p.life = s.t
        |                       THEN p.cnt ELSE 0 END) AS BIGINT) AS d1,
        |         CAST(sum(CASE WHEN p.life = s.t THEN p.cnt ELSE 0 END)
        |              AS BIGINT) AS d
        |  FROM spine s JOIN prof p ON p.life >= s.t
        |  GROUP BY 1),
        |terms AS (
        |  SELECT CAST(round((CAST(d1 AS DOUBLE)
        |             - CAST(d AS DOUBLE) * n1 / n) * 1e6, 0) AS BIGINT)
        |           AS u_micro,
        |         CAST(round(CAST(n1 AS DOUBLE) * (n - n1) * d * (n - d)
        |             / (CAST(n AS DOUBLE) * n * (n - 1)) * 1e6, 0)
        |           AS BIGINT) AS v_micro
        |  FROM at WHERE n >= 2 AND d > 0),
        |pop AS (
        |  SELECT CAST(sum(g1) AS BIGINT) AS n1_subjects,
        |         CAST(count(*) AS BIGINT) AS n_subjects
        |  FROM lifes)
        |SELECT p.n1_subjects,
        |       p.n_subjects - p.n1_subjects AS n2_subjects,
        |       CAST(sum(u_micro) AS BIGINT) AS u_micro,
        |       CAST(sum(v_micro) AS BIGINT) AS v_micro,
        |       round(CAST(sum(u_micro) AS DOUBLE) * sum(u_micro)
        |             / CAST(sum(v_micro) AS DOUBLE) / 1e6, 6) AS chi2
        |FROM terms, pop p
        |GROUP BY 1, 2""".stripMargin))
}
