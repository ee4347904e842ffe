package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.{DfCache, Tables}

/** [EXT] time-series analytics over the events stream — the monitoring
  * trio a pipeline runs on its own daily ingest volumes: freshness-
  * weighted aggregation (q154), change-point detection (q155), and
  * autocorrelation (q156). q151's PSI asks "does the new batch's value
  * DISTRIBUTION still match the reference?"; these ask the orthogonal
  * questions "how much RECENT signal is there?" (decay), "WHEN did the
  * level shift?" (change point), and "is the daily volume serially
  * correlated or noise?" (ACF).
  *
  * Shared scale shape: q155/q156 run on the DAILY-aggregated series —
  * one groupBy folds N events into (#types × #days) rows, and every
  * window/self-join after that is over the tiny series table, never the
  * raw events (the q151 profile-table discipline). q154 is a single
  * map-side-combinable aggregate over the scan.
  *
  * Shared determinism discipline: cross-engine float summation order is
  * unpinnable, so no big double sum exists anywhere in the three
  * queries. q154 folds integer cents × integer millionth-weights into
  * an exact BIGINT sum (the q135/q136 integer-cents discipline applied
  * to decay weights); q155 selects its argmax by exact integer
  * cross-multiplication and only forms a double for display; q156's
  * corr consumes exact integer day-counts (parity proven by q57).
  */
object TimeSeries {

  /** Decay half-life in days for q154. */
  private[graft] val HalfLifeDays = 7

  /** Pinned within-week decay weights in millionths: w6(r) =
    * round(2^(−r/7) · 10^6) for r = 0..6, evaluated ONCE offline and
    * frozen as literals. Computing them at query time via pow() is not
    * cross-engine-safe — Java Math.pow and C libm disagree by 1 ulp at
    * r = 2 (2^(−2/7)·10^6 ≈ 820335.4999…: measured Spark 820336 vs
    * DuckDB 820335), exactly on the rounding boundary. A pinned table
    * plus exact dyadic halving (w6(age) = w6(age mod 7) >> (age div 7))
    * leaves NO transcendental call in either engine. */
  private[graft] val WeekWeights6: Seq[Long] =
    Seq(1000000L, 905724L, 820335L, 742997L, 672950L, 609507L, 552045L)

  /** Daily event-count series: (event_type, day, n) with day = integer
    * index from the corpus min DATE — the profile table q155/q156
    * share. Integer counts end-to-end; cached per (session, dir). */
  private[graft] def dailySeries(spark: SparkSession, dir: String): DataFrame =
    DfCache.df(spark, s"ts_daily|$dir") {
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("d"))
      val d0 = ev.agg(min(col("d")).as("d0"))
      ev.crossJoin(broadcast(d0))
        .select(col("event_type"), datediff(col("d"), col("d0")).as("day"),
          col("d0"))
        .groupBy("event_type", "day", "d0").agg(count(lit(1)).as("n"))
    }

  /** q154 — time-decayed (freshness-weighted) engagement rollup: per
    * event type, Σ value · 2^(−age_days / 7) with age measured in whole
    * days back from the corpus max date — the recency-weighted volume a
    * crawler scheduler or trending ranker maintains, where a week-old
    * event counts half.
    *
    * Exactness: the half-life weight is irrational, so it is pinned
    * ONCE to a millionth ([[WeekWeights6]], the q150 rounded-rate
    * discipline taken one step further after pow() itself proved
    * engine-divergent) and extended past the first week by exact bit
    * shifts; each event contributes exact integer `cents × w6` and the
    * group sum is a BIGINT that both engines fold bit-identically in
    * any order. Ages ≥ 20 half-lives weigh 0 outright — below the
    * millionth quantum anyway, and shiftright's mod-64 shift-amount
    * wrap must never be reachable. Display
    * divides the exact sum by 10^8 — a single correctly-rounded
    * int→double division, deterministic. Magnitudes: cents ≤ 5·10^4,
    * w6 ≤ 10^6 → ≤ 5·10^10/row; 2^53 accommodates ~180k rows/group at
    * this data's values, and the documented 100 TB drop-in is the same
    * sum over DECIMAL(38,0), which Spark and DuckDB both fold exactly
    * (decimal sums are order-free; only the double path needed the
    * bound). */
  def q154DecayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        col("value"))
    val dMax = ev.agg(max(col("d")).as("dmax"))
    ev.crossJoin(broadcast(dMax))
      .select(col("event_type"),
        datediff(col("dmax"), col("d")).as("age"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .select(col("event_type"), col("cents"),
        expr(s"case when age div $HalfLifeDays >= 20 then 0L else " +
          s"shiftright(element_at(array(${WeekWeights6.mkString("L, ")}L), " +
          s"cast(age % $HalfLifeDays as int) + 1), " +
          s"cast(age div $HalfLifeDays as int)) end").as("w6"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("cents") * col("w6")).as("wsum"))
      .select(col("event_type"), col("n_events"), col("raw_cents"),
        round(col("wsum").cast("double") / 1e8, 4).as("decayed_value"))
      .orderBy("event_type")
  }

  /** q155 — change-point detection on each type's daily-count series by
    * the binary-segmentation scan statistic: the split t maximizing the
    * mean gap |mean(x_1..t) − mean(x_t+1..n)|. CUSUM's sequential
    * recurrence (max(0, ·) state) is inherently order-serial; the scan
    * statistic finds the same level shift from PREFIX SUMS, which are
    * one window pass over the daily table — the distributed-friendly
    * estimator.
    *
    * Argmax without float compares: for split t with left sum SL,
    * right sum SR = S−SL, the gap is |SL·(n−t) − SR·t| / (t·(n−t)).
    * Ranking compares gap_a > gap_b ⟺ num_a·den_b > num_b·den_a — but
    * rather than pairwise cross-multiplying inside a window, both
    * engines form the DOUBLE num/den from exact BIGINTs (num ≤ 4·10^7,
    * den ≤ 10^5 here — both < 2^53, so the conversion is exact and the
    * single division correctly rounded: bit-identical cross-engine),
    * rank on (gap DESC, t ASC), and keep rank 1. The shift verdict
    * (gap > 20% of the global mean) IS a pure integer compare:
    * 5·num·n > S·den. Window partitions are per event type over ≤#days
    * rows — series length, never event count, bounds the window. */
  def q155ChangePoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("day")
    val prefixed = daily
      .withColumn("t", row_number().over(w))
      .withColumn("sl", sum(col("n")).over(w))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("s", sum(col("n")).over(Window.partitionBy("event_type")))
      .filter(col("t") < col("nn")) // split AFTER t: right side non-empty
      .withColumn("num",
        abs(col("sl") * (col("nn") - col("t")) - (col("s") - col("sl")) * col("t")))
      .withColumn("den", col("t") * (col("nn") - col("t")))
      .withColumn("gap", col("num").cast("double") / col("den"))
    val ranked = prefixed.withColumn("rk",
      row_number().over(Window.partitionBy("event_type")
        .orderBy(col("gap").desc, col("t"))))
    ranked.filter(col("rk") === 1)
      .select(col("event_type"),
        expr("date_add(d0, day)").as("split_day"),
        col("t").as("left_len"),
        (col("nn") - col("t")).as("right_len"),
        round(col("sl").cast("double") / col("t"), 6).as("left_mean"),
        round((col("s") - col("sl")).cast("double") / (col("nn") - col("t")), 6)
          .as("right_mean"),
        round(col("gap"), 6).as("gap"),
        (lit(5) * col("num") * col("nn") > col("s") * col("den"))
          .as("shifted"))
      .orderBy("event_type")
  }

  /** Max ACF lag for q156 (days). */
  private[graft] val MaxLag = 7

  /** q156 — autocorrelation function of each type's daily-count series
    * at lags 1..7: Pearson corr(x_d, x_{d+k}) over calendar-aligned
    * pairs (a missing day simply contributes no pair — no imputation).
    * The serial-correlation diagnostic behind "is ingest volume bursty
    * or independent?"; a weekly crawl cadence shows up as positive ACF
    * at lag 7. The lag alignment is a self-join of the tiny daily
    * series on (type, day+k) — #days × MaxLag rows total, independent
    * of event count; corr folds exact integer counts (q57 proved
    * Spark↔DuckDB corr parity on this data). */
  def q156Acf(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir).select(
      col("event_type"), col("day"), col("n"))
    val lags = spark.range(1, MaxLag + 1).select(col("id").cast("int").as("lag"))
    val base = daily.crossJoin(broadcast(lags))
    val paired = base.alias("a")
      .join(daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") === col("a.day") + col("a.lag"))
      .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
        col("a.n").cast("double").as("x"), col("b.n").cast("double").as("y"))
    paired.groupBy("event_type", "lag")
      .agg(round(corr(col("x"), col("y")), 6).as("acf"),
        count(lit(1)).as("n_pairs"))
      .orderBy("event_type", "lag")
  }

  /** q261 EWMA window (lookback days) and half-life-2-day weights
    * w6(j) = round(2^(−j/2)·1e6) — pinned ONCE (the WeekWeights6
    * discipline; runtime pow() is engine-divergent). 20 taps ≈ 3
    * decades of decay, below the micro quantum past the window. */
  private[graft] val EwmaTaps = 20
  private[graft] val EwmaW6: Seq[Long] = (0 until EwmaTaps).map { j =>
    math.rint(math.pow(0.5, j / 2.0) * 1e6).toLong
  }

  /** q261 — EXACT EWMA smoother of the daily series: per (type, day),
    * the exponentially-weighted mean of the trailing [[EwmaTaps]]
    * days with pinned half-life-2 weights — the smoother a monitor
    * plots under q187's alerts (rolling mean lags shifts; rolling
    * median (q190) ignores magnitude; EWMA is the standard
    * recency-weighted compromise). Truncating the infinite recursion
    * at 20 taps IS the declared semantics (the tail weight is below
    * the pinned quantum), which is what makes the operator exact.
    *
    * Exactness: each day contributes n·w6(j) to the next 20 days via
    * a sequence-explode (the q182 pattern — map-side, ≤ taps× the
    * DAILY PROFILE, never events); numerator and the normalizing
    * Σw6(observed) fold as exact BIGINTs; one division, rounded once.
    *
    * Scale shape: everything runs on the cached daily profile ×
    * [[EwmaTaps]]. */
  def q261Ewma(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("d0"), col("n"))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    val w6Arr = s"array(${EwmaW6.mkString("L, ")}L)"
    val contrib = daily
      .select(col("event_type"), col("d0"), col("day"), col("n"),
        explode(sequence(lit(0), lit(EwmaTaps - 1))).as("j"))
      .select(col("event_type"), col("d0"),
        (col("day") + col("j")).as("tday"),
        (col("n") * expr(s"element_at($w6Arr, j + 1)")).as("wn"),
        expr(s"element_at($w6Arr, j + 1)").as("w"))
    contrib.crossJoin(broadcast(maxDay))
      .filter(col("tday") <= col("max_day"))
      .groupBy("event_type", "d0", "tday")
      .agg(sum(col("wn")).as("num"), sum(col("w")).as("den"))
      .select(col("event_type"),
        expr("date_add(d0, cast(tday as int))").as("day"),
        round(col("num").cast("double") / col("den").cast("double"), 4)
          .as("ewma"))
      .orderBy("event_type", "day")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q261_ewma", q261Ewma _,
      {
      val w6List = s"[${EwmaW6.mkString(", ")}]"
      s"""WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd
        |  FROM events),
        |d0 AS (SELECT min(dd) AS d0 FROM ev),
        |daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', (SELECT d0 FROM d0), dd) AS BIGINT)
        |           AS day,
        |         count(*) AS n
        |  FROM ev GROUP BY 1, 2),
        |md AS (SELECT max(day) AS max_day FROM daily),
        |contrib AS (
        |  SELECT d.event_type, d.day + t.j AS tday,
        |         d.n * $w6List[t.j + 1] AS wn,
        |         $w6List[t.j + 1] AS w
        |  FROM daily d CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${EwmaTaps - 1})) AS j) t),
        |agg AS (
        |  SELECT event_type, tday,
        |         CAST(sum(wn) AS BIGINT) AS num,
        |         CAST(sum(w) AS BIGINT) AS den
        |  FROM contrib
        |  WHERE tday <= (SELECT max_day FROM md)
        |  GROUP BY 1, 2)
        |SELECT event_type,
        |       (SELECT d0 FROM d0) + CAST(tday AS INTEGER) AS day,
        |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) AS ewma
        |FROM agg ORDER BY event_type, day""".stripMargin
    }),
    QueryDef("q154_decayed_engagement", q154DecayedEngagement _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
        |  FROM events),
        |dmax AS (SELECT max(d) AS dmax FROM ev),
        |aged AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         date_diff('day', d, (SELECT dmax FROM dmax)) AS age
        |  FROM ev),
        |contrib AS (
        |  SELECT event_type, cents,
        |         CASE WHEN age // 7 >= 20 THEN 0
        |              ELSE [1000000, 905724, 820335, 742997, 672950,
        |                    609507, 552045][CAST(age % 7 AS INTEGER) + 1]
        |                   // (CAST(1 AS BIGINT) << CAST(age // 7 AS INTEGER))
        |         END AS w6
        |  FROM aged)
        |SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS raw_cents,
        |       round(CAST(sum(cents * w6) AS DOUBLE) / 1e8, 4)
        |         AS decayed_value
        |FROM contrib GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q155_changepoint", q155ChangePoint _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |daily AS (
        |  SELECT event_type,
        |         date_diff('day', (SELECT d0 FROM d0), d) AS day,
        |         count(*) AS n
        |  FROM ev GROUP BY 1, 2),
        |prefixed AS (
        |  SELECT event_type, day,
        |         row_number() OVER w AS t,
        |         sum(n) OVER w AS sl,
        |         count(*) OVER (PARTITION BY event_type) AS nn,
        |         sum(n) OVER (PARTITION BY event_type) AS s
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS UNBOUNDED PRECEDING)),
        |cand AS (
        |  SELECT event_type, day, t, sl, nn, s,
        |         abs(sl * (nn - t) - (s - sl) * t) AS num,
        |         t * (nn - t) AS den,
        |         CAST(abs(sl * (nn - t) - (s - sl) * t) AS DOUBLE)
        |           / (t * (nn - t)) AS gap
        |  FROM prefixed WHERE t < nn),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |                               ORDER BY gap DESC, t) AS rk
        |  FROM cand)
        |SELECT event_type,
        |       (SELECT d0 FROM d0) + CAST(day AS INTEGER) AS split_day,
        |       t AS left_len, nn - t AS right_len,
        |       round(CAST(sl AS DOUBLE) / t, 6) AS left_mean,
        |       round(CAST(s - sl AS DOUBLE) / (nn - t), 6) AS right_mean,
        |       round(gap, 6) AS gap,
        |       5 * num * nn > s * den AS shifted
        |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin),
    QueryDef("q156_acf", q156Acf _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |daily AS (
        |  SELECT event_type,
        |         date_diff('day', (SELECT d0 FROM d0), d) AS day,
        |         count(*) AS n
        |  FROM ev GROUP BY 1, 2),
        |lags AS (SELECT unnest(range(1, 8)) AS lag)
        |SELECT a.event_type, CAST(lag AS INTEGER) AS lag,
        |       round(corr(CAST(a.n AS DOUBLE), CAST(b.n AS DOUBLE)), 6)
        |         AS acf,
        |       count(*) AS n_pairs
        |FROM daily a CROSS JOIN lags
        |JOIN daily b ON b.event_type = a.event_type
        |            AND b.day = a.day + lag
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
