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
  *
  * Also here: OHLC bars (q89), forward fill (q90), rolling z-score and
  * rolling median (q93, q190), and changepoint localization by binary
  * segmentation at one and two levels (q382, q388).
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

  /** q89 — OHLC time-series resampling: per (user, hour) bars with
    * open/close picked by `min_by`/`max_by` (no self-join, no window) and
    * high/low/volume as plain aggregates. One hash aggregate keyed on
    * (user, bar) — the downsampling shape that holds at any scale.
    * Determinism: (user_id, ts) is unique in the corpus, so the
    * min_by/max_by selection is unambiguous. */
  def q89OhlcBars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("bar", date_trunc("hour", col("ts")))
      .groupBy("user_id", "bar")
      .agg(min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "bar")

  /** q90 — forward fill (gap fill): carry each user's last observed
    * purchase value onto every subsequent event via
    * `last(..., ignoreNulls)` over a running frame — the standard
    * missing-data imputation for irregular time series, one window pass
    * partitioned on the entity key. */
  def q90ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("last_purchase_value"))
      .orderBy("user_id", "event_id")
  }

  /** q93 — rolling z-score anomaly detection: each event's value scored
    * against the mean/stddev of the SAME user's preceding 20 events
    * (frame excludes the current row — no self-leakage). One window pass
    * per user timeline; the batch shape of streaming outlier detection.
    * z is emitted rounded; the flag uses a strict threshold on the
    * rounded value so both engines compare identical doubles. */
  def q93RollingZscore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-20, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("n_prev", count(col("value")).over(w))
      .withColumn("avg_prev", avg(col("value")).over(w))
      .withColumn("std_prev", stddev_samp(col("value")).over(w))
      .filter(col("n_prev") >= 5 && col("std_prev") > 0)
      // + 0.0 collapses IEEE -0.0 to +0.0 (a tiny-negative z rounds to
      // -0.0, and the two zeros hash differently across engines)
      .withColumn("z", round(
        (col("value") - col("avg_prev")) / col("std_prev"), 4) + lit(0.0))
      .select(col("user_id"), col("event_id"), col("z"),
        (abs(col("z")) > 3.0).as("is_anomaly"))
      .orderBy("user_id", "event_id")
  }

  /** Rolling frame half-width for q190 (10 preceding + current). */
  private[graft] val MedianFrame = 10

  /** q190 — rolling median smoother: per user, the median of the last
    * [[MedianFrame]]+1 event values (exact cents) along the timeline —
    * the robust companion to q93's rolling z-score (one outlier drags
    * a rolling mean; it barely moves the rolling median). Exact
    * `percentile` as a frame aggregate; the frame is row-bounded so
    * per-row cost is O(frame log frame) regardless of corpus size. */
  def q190RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(-MedianFrame, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .withColumn("med", expr(s"percentile(cents, 0.5d)").over(w))
      .select(col("user_id"), col("event_id"), col("cents"),
        round(col("med") / 100.0, 6).as("rolling_median"))
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------- q382

  /** The (type, day) daily-count profile with per-row prefix sums and
    * per-type totals — the shared input of q382/q388. Every window
    * partitions by event_type over ≤ |days| rows (calendar-bounded). */
  private def dailyIdx(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("slft", sum(col("x")).over(wCum))
      .withColumn("s", sum(col("x")).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("q2",
        sum((col("x") * col("x")).cast("decimal(38,0)")).over(wAll))
  }

  /** q382 — CHANGEPOINT LOCALIZATION (binary segmentation, one split)
    * over the per-type DAILY event-count series: for every candidate
    * split k the SSE reduction of a two-mean fit,
    *
    *   gain(k) = S_L²/k + S_R²/(n−k) − S²/n
    *
    * computed from ONE cumulative window over the (type, day) profile
    * (prefix sums make every candidate O(1) — no segment rescans), the
    * winning split per type by micro-quantized RELATIVE-gain argmax
    * (gain/SSE_total — bounded in [0, 1] at any count magnitude) with
    * the EARLIEST day breaking ties. η² = gain/SSE_total says how much
    * of the series' variance one break explains. The batch twin of the
    * streaming CUSUM detector (StreamingCusumSpec): CUSUM answers
    * "has it drifted?" online; this answers "WHERE did it break?" over
    * the lakehouse history. Scale: all windows partition by
    * event_type over the day-grain profile (≤ |days| rows per type —
    * calendar-bounded, never data-sized); Σx² folds in decimal(38)
    * before one final double cast. */
  def q382Changepoint(spark: SparkSession, dir: String): DataFrame = {
    val idx = dailyIdx(spark, dir)
      .filter(col("k") < col("n"))
      // identical textual formulas in the oracle: products and
      // divisions are IEEE-exact-rounded, so the doubles agree
      // bit-for-bit; the argmax still only ever sees a micro-
      // quantized BIGINT. The argmax key is the RELATIVE gain
      // gain/SSE_total ∈ [0, 1] (round 14, ADVICE r13): every
      // candidate in a partition shares the SSE_total denominator, so
      // the ordering is the absolute-gain ordering, but the quantized
      // quantity is BOUNDED — the old gain*1e6 was count²-scale and
      // would overflow BIGINT once a type's total count passes ~3e6
      // (where Spark's non-ANSI cast clamps and DuckDB errors).
      .withColumn("gaind", expr(
        "cast(slft as double) * slft / k" +
          " + cast(s - slft as double) * (s - slft) / (n - k)" +
          " - cast(s as double) * s / n"))
      .withColumn("sse", expr(
        "cast(q2 as double) - cast(s as double) * s / n"))
      .withColumn("grel_u", expr(
        "cast(round(case when sse > 0 then gaind / sse else 0 end" +
          " * 1e6, 0) as bigint)"))
    val wPick = Window.partitionBy("event_type")
      .orderBy(desc("grel_u"), asc("day"))
    idx.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day").as("split_day"), // last day of the LEFT segment
        expr("round(cast(slft as double) / k, 6)").as("mean_left"),
        expr("round(cast(s - slft as double) / (n - k), 6)")
          .as("mean_right"),
        expr("round(gaind, 6)").as("gain"),
        expr("case when sse > 0 then round(grel_u / 1e6, 6) end")
          .as("eta2"))
      .orderBy("event_type")
  }

  /** q388 — TWO-LEVEL BINARY SEGMENTATION (the q382 recursion, depth
    * 2): fix the level-1 split b, then score every remaining candidate
    * k with the WITHIN-SEGMENT SSE gain (prefix arithmetic relative to
    * the segment boundaries — left: prefixes as-is against (b, S_b);
    * right: prefixes shifted by (b, S_b) against (n−b, S−S_b)) and
    * take the single best second split across both segments. This is
    * how binary segmentation finds K changepoints at 100 TB: each
    * level is ONE more pass over the calendar-bounded profile —
    * candidate gains stay O(1) reads of three prefix scalars, never a
    * segment rescan — so K changepoints cost K profile passes, not K
    * corpus scans. Output: both split days in calendar order, the
    * three segment means, and both gains (gain_second ≤ gain_first is
    * NOT implied — the second gain is within-segment — but both are
    * nonneg). Same determinism story as q382: micro-quantized argmax,
    * earliest-day tie-break, level-1 tie identical to q382's. */
  def q388Changepoint2(spark: SparkSession, dir: String): DataFrame = {
    val idx = dailyIdx(spark, dir)
    // same bounded relative-gain argmax as q382 (ADVICE r13): BOTH
    // levels share the per-type SSE_total denominator, so the level-2
    // ordering across the two segments is unchanged and the quantized
    // key stays in [0, 1e6] at any count magnitude
    val wPick1 = Window.partitionBy("event_type").orderBy(
      desc("grel1_u"), asc("day"))
    val best = idx.filter(col("k") < col("n"))
      .withColumn("gain1d", expr(
        "cast(slft as double) * slft / k" +
          " + cast(s - slft as double) * (s - slft) / (n - k)" +
          " - cast(s as double) * s / n"))
      .withColumn("sse", expr(
        "cast(q2 as double) - cast(s as double) * s / n"))
      .withColumn("grel1_u", expr(
        "cast(round(case when sse > 0 then gain1d / sse else 0 end" +
          " * 1e6, 0) as bigint)"))
      .withColumn("rn", row_number().over(wPick1))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("k").as("b"), col("slft").as("sb"),
        col("day").as("day_b"), col("gain1d"), col("sse"))
    val cand = idx
      .join(broadcast(best), Seq("event_type"))
      .filter(col("k") =!= col("b") && col("k") < col("n"))
      .withColumn("gain2d", expr(
        "case when k < b" +
          " then cast(slft as double) * slft / k" +
          " + cast(sb - slft as double) * (sb - slft) / (b - k)" +
          " - cast(sb as double) * sb / b" +
          " else cast(slft - sb as double) * (slft - sb) / (k - b)" +
          " + cast(s - slft as double) * (s - slft) / (n - k)" +
          " - cast(s - sb as double) * (s - sb) / (n - b) end"))
      .withColumn("grel2_u", expr(
        "cast(round(case when sse > 0 then gain2d / sse else 0 end" +
          " * 1e6, 0) as bigint)"))
    val wPick2 = Window.partitionBy("event_type").orderBy(
      desc("grel2_u"), asc("day"))
    cand.withColumn("rn", row_number().over(wPick2))
      .filter(col("rn") === 1)
      .withColumn("k1", least(col("k"), col("b")))
      .withColumn("k2", greatest(col("k"), col("b")))
      .withColumn("c1", when(col("k") < col("b"), col("slft"))
        .otherwise(col("sb")))
      .withColumn("c2", when(col("k") < col("b"), col("sb"))
        .otherwise(col("slft")))
      .select(col("event_type"), col("n").as("n_days"),
        when(col("k") < col("b"), col("day")).otherwise(col("day_b"))
          .as("split_day_1"),
        when(col("k") < col("b"), col("day_b")).otherwise(col("day"))
          .as("split_day_2"),
        expr("round(cast(c1 as double) / k1, 6)").as("m1"),
        expr("round(cast(c2 - c1 as double) / (k2 - k1), 6)").as("m2"),
        expr("round(cast(s - c2 as double) / (n - k2), 6)").as("m3"),
        expr("round(gain1d, 6)").as("gain_first"),
        expr("round(gain2d, 6)").as("gain_second"))
      .orderBy("event_type")
  }

  /** Oracle CTEs of the per-type daily event counts on a day index:
    * `ev` (event_type, date `dd`), the first day `d0`, and `daily`
    * (event_type, `day` = days since d0, n = `count`, the count's SQL). */
  private[operators] def dayIndexCtes(count: String = "count(*)",
      day: String = "day"): String =
    s"""ev AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd
      |  FROM events),
      |d0 AS (SELECT min(dd) AS d0 FROM ev),
      |daily AS (
      |  SELECT event_type,
      |         CAST(date_diff('day', (SELECT d0 FROM d0), dd) AS BIGINT)
      |           AS $day,
      |         $count AS n
      |  FROM ev GROUP BY 1, 2)""".stripMargin

  /** Oracle CTE text of [[dailyIdx]]: `daily` (events per type and
    * day) and `idx` (each day's 1-based position `k` in its type's
    * series, the prefix sum `slft`, and the series' `s`, `n` and sum
    * of squares `q2`). Shared by q382 and q388. */
  private val DailyIdxCte =
    """daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, x,
      |         CAST(row_number() OVER w AS BIGINT) AS k,
      |         CAST(sum(x) OVER (w ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS slft,
      |         CAST(sum(x) OVER p AS BIGINT) AS s,
      |         CAST(count(*) OVER p AS BIGINT) AS n,
      |         CAST(sum(x * x) OVER p AS HUGEINT) AS q2
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day),
      |         p AS (PARTITION BY event_type))""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q261_ewma", q261Ewma _,
      {
      val w6List = s"[${EwmaW6.mkString(", ")}]"
      s"""WITH ${dayIndexCtes()},
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q93_rolling_zscore", q93RollingZscore _,
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  event_id, value FROM events),
        |wf AS (
        |  SELECT user_id, event_id, value,
        |         count(value) OVER w AS n_prev,
        |         avg(value) OVER w AS avg_prev,
        |         stddev_samp(value) OVER w AS std_prev
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id,
        |       round((value - avg_prev) / std_prev, 4) + 0.0 AS z,
        |       abs(round((value - avg_prev) / std_prev, 4)) > 3.0
        |         AS is_anomaly
        |FROM wf WHERE n_prev >= 5 AND std_prev > 0
        |ORDER BY user_id, event_id""".stripMargin),
    QueryDef("q89_ohlc_bars", q89OhlcBars _,
      """SELECT user_id,
        |       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
        |       arg_min(value, CAST(ts AS TIMESTAMP)) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       arg_max(value, CAST(ts AS TIMESTAMP)) AS close,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q90_forward_fill", q90ForwardFill _,
      """SELECT user_id, event_id, event_type,
        |       last_value(CASE WHEN event_type = 'purchase' THEN value END
        |                  IGNORE NULLS)
        |         OVER (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS last_purchase_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    QueryDef("q190_rolling_median", q190RollingMedian _,
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id, cents,
        |       round(quantile_cont(CAST(cents AS DOUBLE), 0.5) OVER (
        |         PARTITION BY user_id ORDER BY us, event_id
        |         ROWS BETWEEN $MedianFrame PRECEDING AND CURRENT ROW)
        |         / 100.0, 6) AS rolling_median
        |FROM ev ORDER BY user_id, event_id""".stripMargin),
    QueryDef("q382_changepoint", q382Changepoint _,
      s"""WITH $DailyIdxCte,
        |g AS (
        |  SELECT *,
        |         (CAST(slft AS DOUBLE) * slft / k
        |           + CAST(s - slft AS DOUBLE) * (s - slft) / (n - k)
        |           - CAST(s AS DOUBLE) * s / n) AS gaind,
        |         (CAST(q2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        |           AS sse
        |  FROM idx WHERE k < n),
        |gu AS (
        |  SELECT *,
        |         CAST(round(CASE WHEN sse > 0 THEN gaind / sse
        |           ELSE 0 END * 1e6, 0) AS BIGINT) AS grel_u
        |  FROM g),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY grel_u DESC, day) AS rn
        |  FROM gu)
        |SELECT event_type, n AS n_days, day AS split_day,
        |       round(CAST(slft AS DOUBLE) / k, 6) AS mean_left,
        |       round(CAST(s - slft AS DOUBLE) / (n - k), 6)
        |         AS mean_right,
        |       round(gaind, 6) AS gain,
        |       CASE WHEN sse > 0
        |            THEN round(grel_u / 1e6, 6) END AS eta2
        |FROM best WHERE rn = 1 ORDER BY event_type""".stripMargin),
    QueryDef("q388_changepoint2", q388Changepoint2 _,
      s"""WITH $DailyIdxCte,
        |g1 AS (
        |  SELECT *,
        |         (CAST(slft AS DOUBLE) * slft / k
        |           + CAST(s - slft AS DOUBLE) * (s - slft) / (n - k)
        |           - CAST(s AS DOUBLE) * s / n) AS gain1d,
        |         (CAST(q2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        |           AS sse
        |  FROM idx WHERE k < n),
        |g1u AS (
        |  SELECT *,
        |         CAST(round(CASE WHEN sse > 0 THEN gain1d / sse
        |           ELSE 0 END * 1e6, 0) AS BIGINT) AS grel1_u
        |  FROM g1),
        |best AS (
        |  SELECT event_type, k AS b, slft AS sb, day AS day_b,
        |         gain1d, sse
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |          ORDER BY grel1_u DESC, day) AS rn FROM g1u)
        |  WHERE rn = 1),
        |g2 AS (
        |  SELECT i.*, t.b, t.sb, t.day_b, t.gain1d, t.sse,
        |         (CASE WHEN i.k < t.b
        |           THEN CAST(i.slft AS DOUBLE) * i.slft / i.k
        |             + CAST(t.sb - i.slft AS DOUBLE) * (t.sb - i.slft)
        |               / (t.b - i.k)
        |             - CAST(t.sb AS DOUBLE) * t.sb / t.b
        |           ELSE CAST(i.slft - t.sb AS DOUBLE) * (i.slft - t.sb)
        |               / (i.k - t.b)
        |             + CAST(i.s - i.slft AS DOUBLE) * (i.s - i.slft)
        |               / (i.n - i.k)
        |             - CAST(i.s - t.sb AS DOUBLE) * (i.s - t.sb)
        |               / (i.n - t.b) END) AS gain2d
        |  FROM idx i JOIN best t USING (event_type)
        |  WHERE i.k <> t.b AND i.k < i.n),
        |g2u AS (
        |  SELECT *,
        |         CAST(round(CASE WHEN sse > 0 THEN gain2d / sse
        |           ELSE 0 END * 1e6, 0) AS BIGINT) AS grel2_u
        |  FROM g2),
        |pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY grel2_u DESC, day) AS rn
        |  FROM g2u),
        |win AS (
        |  SELECT *,
        |         least(k, b) AS k1, greatest(k, b) AS k2,
        |         CASE WHEN k < b THEN slft ELSE sb END AS c1,
        |         CASE WHEN k < b THEN sb ELSE slft END AS c2
        |  FROM pick WHERE rn = 1)
        |SELECT event_type, n AS n_days,
        |       CASE WHEN k < b THEN day ELSE day_b END AS split_day_1,
        |       CASE WHEN k < b THEN day_b ELSE day END AS split_day_2,
        |       round(CAST(c1 AS DOUBLE) / k1, 6) AS m1,
        |       round(CAST(c2 - c1 AS DOUBLE) / (k2 - k1), 6) AS m2,
        |       round(CAST(s - c2 AS DOUBLE) / (n - k2), 6) AS m3,
        |       round(gain1d, 6) AS gain_first,
        |       round(gain2d, 6) AS gain_second
        |FROM win ORDER BY event_type""".stripMargin))
}
