package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] data-quality expectation suite (the Deequ/dbt-tests shape): the
  * validation gate a training pipeline runs BEFORE consuming a table —
  * uniqueness, referential integrity, null rates, value domains, ranges,
  * freshness — emitted as one row per constraint with the violation
  * metric and a pass verdict, so orchestration can both alert on a
  * failed gate and trend the metrics over time.
  *
  * Scale shape: per-table constraints fold into ONE full-scan aggregate
  * each (every check is a conditional count riding the same pass —
  * adding a 20th constraint adds a column, not a scan); the only join is
  * the referential check, an anti join on the FK that rides q134's
  * bucket layout shuffle-free at 100 TB. Violations are counted, never
  * materialized — the quarantine variant would reuse the same predicates
  * to split rows instead.
  *
  * Two expectations are deliberately tuned to FAIL on this corpus
  * (quantity ≤ 40 where the generator emits up to 50; a 90-day
  * freshness SLA against a fixed as-of date) so the suite demonstrably
  * detects violations rather than rubber-stamping a clean table.
  *
  * Also here: per-column data profiling (q94).
  */
object Expectations {

  private val AsOfDate = "2001-12-31"

  def q139DataExpectations(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
    def violations(c: Column): Column =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    // source-encoding contract (VERDICT r07): a mis-decoded events.ts
    // (e.g. a silently rescaled physical encoding collapsing 2024 into
    // 1970) must turn ONE named expectation red here instead of
    // corrupting every downstream time-window hash
    val evAgg = ev.agg(
      violations(col("ts").isNull).as("ts_null"),
      violations(col("ts").isNotNull &&
        !year(col("ts")).between(2000, 2100)).as("ts_year_bad"))
    val ordAgg = ord.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_dups"),
      violations(col("o_totalprice").isNull || col("o_totalprice") <= 0)
        .as("price_bad"),
      violations(col("o_orderpriority").isNull).as("priority_null"),
      datediff(lit(AsOfDate).cast("date"),
        max(col("o_orderdate")).cast("date")).cast("long").as("lag_days"))
    val liAgg = li.agg(
      violations(col("l_quantity") < 1 || col("l_quantity") > 50)
        .as("qty_range_bad"),
      violations(!col("l_returnflag").isin("A", "N", "R")).as("flag_bad"),
      violations(col("l_quantity") > 40).as("qty_gt40"))
    val fkAgg = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_bad"))
    def c(name: String, metric: Column, passed: Column): Column =
      struct(lit(name).as("expectation"), metric.cast("long").as("metric"),
        passed.as("passed"))
    ordAgg.crossJoin(liAgg).crossJoin(fkAgg).crossJoin(evAgg)
      .select(explode(array(
        c("events_ts_nonnull", col("ts_null"), col("ts_null") === 0),
        c("events_ts_year_in_2000_2100", col("ts_year_bad"),
          col("ts_year_bad") === 0),
        c("lineitem_fk_into_orders", col("fk_bad"), col("fk_bad") === 0),
        c("lineitem_quantity_in_1_50", col("qty_range_bad"),
          col("qty_range_bad") === 0),
        c("lineitem_quantity_le_40", col("qty_gt40"), col("qty_gt40") === 0),
        c("lineitem_returnflag_domain", col("flag_bad"),
          col("flag_bad") === 0),
        c("orders_fresh_within_90d", col("lag_days"),
          col("lag_days") <= 90),
        c("orders_pk_unique", col("pk_dups"), col("pk_dups") === 0),
        c("orders_priority_nonnull", col("priority_null"),
          col("priority_null") === 0),
        c("orders_totalprice_positive", col("price_bad"),
          col("price_bad") === 0))).as("e"))
      .select(col("e.expectation"), col("e.metric"), col("e.passed"))
      .orderBy("expectation")
  }

  /** q94 — data profiling: per-column row/null/distinct counts and
    * lexical min/max over a column set, the standard warehouse
    * inspection pass (the principled version of the reference's
    * print-and-eyeball validation, `LoadDataWarehouse.ChatterjeeP.R:
    * 107-110,136-139`). One aggregate per column unioned — each is a
    * map-side-combinable scan, no shuffle beyond |columns| rows. */
  def q94ProfileStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def profile(c: String) =
      li.agg(count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c).cast("string")).as("min_str"),
        max(col(c).cast("string")).as("max_str"))
        .withColumn("column_name", lit(c))
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey")
      .map(profile).reduce(_ unionByName _)
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
      .orderBy("column_name")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q139_data_expectations", q139DataExpectations _,
      s"""WITH ev AS (
        |  SELECT count(*) FILTER (WHERE ts IS NULL) AS ts_null,
        |         count(*) FILTER (WHERE ts IS NOT NULL
        |           AND year(CAST(ts AS TIMESTAMP)) NOT BETWEEN 2000 AND 2100)
        |           AS ts_year_bad
        |  FROM events),
        |ord AS (
        |  SELECT count(*) - count(DISTINCT o_orderkey) AS pk_dups,
        |         count(*) FILTER (WHERE o_totalprice IS NULL
        |                             OR o_totalprice <= 0) AS price_bad,
        |         count(*) FILTER (WHERE o_orderpriority IS NULL)
        |           AS priority_null,
        |         date_diff('day', CAST(max(o_orderdate) AS DATE),
        |                   DATE '$AsOfDate') AS lag_days
        |  FROM orders),
        |li AS (
        |  SELECT count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
        |           AS qty_range_bad,
        |         count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R'))
        |           AS flag_bad,
        |         count(*) FILTER (WHERE l_quantity > 40) AS qty_gt40
        |  FROM lineitem),
        |fk AS (
        |  SELECT count(*) AS fk_bad FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_orderkey = l_orderkey))
        |SELECT expectation, CAST(metric AS BIGINT) AS metric, passed
        |FROM (
        |  SELECT 'events_ts_nonnull' AS expectation,
        |         ts_null AS metric, ts_null = 0 AS passed FROM ev
        |  UNION ALL SELECT 'events_ts_year_in_2000_2100', ts_year_bad,
        |         ts_year_bad = 0 FROM ev
        |  UNION ALL SELECT 'lineitem_fk_into_orders',
        |         fk_bad, fk_bad = 0 FROM fk
        |  UNION ALL SELECT 'lineitem_quantity_in_1_50', qty_range_bad,
        |         qty_range_bad = 0 FROM li
        |  UNION ALL SELECT 'lineitem_quantity_le_40', qty_gt40,
        |         qty_gt40 = 0 FROM li
        |  UNION ALL SELECT 'lineitem_returnflag_domain', flag_bad,
        |         flag_bad = 0 FROM li
        |  UNION ALL SELECT 'orders_fresh_within_90d', lag_days,
        |         lag_days <= 90 FROM ord
        |  UNION ALL SELECT 'orders_pk_unique', pk_dups,
        |         pk_dups = 0 FROM ord
        |  UNION ALL SELECT 'orders_priority_nonnull', priority_null,
        |         priority_null = 0 FROM ord
        |  UNION ALL SELECT 'orders_totalprice_positive', price_bad,
        |         price_bad = 0 FROM ord)
        |ORDER BY expectation""".stripMargin),
    QueryDef("q94_profile_stats", q94ProfileStats _,
      """WITH cols AS (
        |  SELECT 'l_linestatus' AS column_name, count(*) AS n_rows,
        |         CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_null,
        |         count(DISTINCT l_linestatus) AS n_distinct,
        |         min(CAST(l_linestatus AS VARCHAR)) AS min_str,
        |         max(CAST(l_linestatus AS VARCHAR)) AS max_str
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', count(*),
        |         CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT),
        |         count(DISTINCT l_partkey),
        |         min(CAST(l_partkey AS VARCHAR)),
        |         max(CAST(l_partkey AS VARCHAR))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', count(*),
        |         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT),
        |         count(DISTINCT l_quantity),
        |         min(CAST(l_quantity AS VARCHAR)),
        |         max(CAST(l_quantity AS VARCHAR))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', count(*),
        |         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT),
        |         count(DISTINCT l_returnflag),
        |         min(CAST(l_returnflag AS VARCHAR)),
        |         max(CAST(l_returnflag AS VARCHAR))
        |  FROM lineitem)
        |SELECT * FROM cols ORDER BY column_name""".stripMargin))
}
