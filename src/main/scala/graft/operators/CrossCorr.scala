package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** [EXT] lead–lag cross-correlation between event-type volume series
  * (q207) — "does signup volume LEAD purchase volume?", the
  * time-series relationship screen run before building a forecasting
  * feature on another series: for every type pair and every lag in
  * ±[[CrossCorr.MaxLag]] days, the Pearson correlation of one type's
  * daily count against the other's lag-shifted count, over the days
  * both are observed.
  *
  * Scale shape: runs entirely on the cached daily profile table
  * (|types| × |days| rows — the q151/q155 discipline), so the
  * pair × lag fan-out is |types|²·lags over CALENDAR-bounded rows,
  * never events. The lag alignment is one equi-join on
  * (type, day + lag); the correlation folds the five exact BIGINT
  * moment sums (q178's regression discipline) and evaluates r as one
  * fixed expression — numerator and denominators guarded like q178
  * (k ≥ 2 and positive variance on both sides, mirrored in the
  * oracle), so NULL-vs-NaN cross-engine divergence is out of
  * contract by construction. */
object CrossCorr {

  private[graft] val MaxLag = 3

  /** q207 — per (t1 < t2, lag): overlap day count and the Pearson r
    * of n1(d) vs n2(d + lag); positive lag = t2 follows t1. */
  def q207LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("n"))
    val lags = spark.range(-MaxLag.toLong, MaxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val a = daily.select(col("event_type").as("t1"), col("day"),
      col("n").as("n1"))
    val b = daily.select(col("event_type").as("t2"),
      col("day").as("bday"), col("n").as("n2"))
    a.crossJoin(broadcast(lags))
      .join(b, col("t1") < col("t2") &&
        col("bday") === col("day") + col("lag"))
      .groupBy("t1", "t2", "lag")
      .agg(count(lit(1)).as("k"),
        sum(col("n1")).as("s1"), sum(col("n2")).as("s2"),
        sum(col("n1") * col("n2")).as("s12"),
        sum(col("n1") * col("n1")).as("s11"),
        sum(col("n2") * col("n2")).as("s22"))
      .withColumn("num", (col("k") * col("s12") - col("s1") * col("s2"))
        .cast("double"))
      .withColumn("den1", (col("k") * col("s11") - col("s1") * col("s1"))
        .cast("double"))
      .withColumn("den2", (col("k") * col("s22") - col("s2") * col("s2"))
        .cast("double"))
      .filter(col("k") >= 2 && col("den1") > 0 && col("den2") > 0)
      .select(col("t1"), col("t2"), col("lag"), col("k").as("n_days"),
        round(col("num") / sqrt(col("den1") * col("den2")), 6).as("r"))
      .orderBy("t1", "t2", "lag")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q207_lead_lag", q207LeadLag _,
      s"""WITH ${TimeSeries.dayIndexCtes()},
        |lags AS (SELECT CAST(unnest(generate_series(-$MaxLag, $MaxLag))
        |                     AS INTEGER) AS lag),
        |sums AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, l.lag,
        |         count(*) AS k,
        |         CAST(sum(a.n) AS BIGINT) AS s1,
        |         CAST(sum(b.n) AS BIGINT) AS s2,
        |         CAST(sum(a.n * b.n) AS BIGINT) AS s12,
        |         CAST(sum(a.n * a.n) AS BIGINT) AS s11,
        |         CAST(sum(b.n * b.n) AS BIGINT) AS s22
        |  FROM daily a
        |  CROSS JOIN lags l
        |  JOIN daily b
        |    ON a.event_type < b.event_type AND b.day = a.day + l.lag
        |  GROUP BY 1, 2, 3),
        |fitted AS (
        |  SELECT t1, t2, lag, k,
        |         CAST(k * s12 - s1 * s2 AS DOUBLE) AS num,
        |         CAST(k * s11 - s1 * s1 AS DOUBLE) AS den1,
        |         CAST(k * s22 - s2 * s2 AS DOUBLE) AS den2
        |  FROM sums)
        |SELECT t1, t2, lag, k AS n_days,
        |       round(num / sqrt(den1 * den2), 6) AS r
        |FROM fitted
        |WHERE k >= 2 AND den1 > 0 AND den2 > 0
        |ORDER BY t1, t2, lag""".stripMargin))
}
