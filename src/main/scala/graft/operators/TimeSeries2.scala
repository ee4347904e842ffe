package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] time-series tranche 2 — the series-repair and series-model
  * operators that complete q154–q156's monitoring family: calendar
  * gap-fill (q175), robust outlier scanning (q176), weekly-seasonality
  * indexing (q177), and linear trend fitting (q178). Together they are
  * the "is this ingest volume healthy?" toolkit: repair the series to a
  * dense grid, strip its seasonality, fit its trend, and flag the cells
  * a robust scale estimate calls anomalous.
  *
  * Scale shape: everything except q176's first pass runs on an
  * aggregated profile table (hours × types, days × types, or user-day
  * cells), so window/join/regression cost is bounded by the CALENDAR,
  * not the event count — the q151/q155 discipline. The spine generation
  * of q175 is one `sequence()` explode off a 1-row min/max aggregate
  * (never a driver loop), and the two q176 median passes broadcast a
  * types-sized (or 1-row) statistics table back onto the cells.
  *
  * Determinism discipline: counts and cents are exact BIGINTs
  * end-to-end; medians interpolate halfway between two BIGINTs (exact
  * in double); every ratio is a single correctly-rounded division of
  * exactly-converted integers with the parenthesization mirrored
  * verbatim in the oracle SQL (the q155 rule), so doubles are
  * bit-identical cross-engine before the display round. */
object TimeSeries2 {

  private val HourUs = 3600000000L

  /** The hourly spine q175 and q246 share: every (event_type, hour
    * index `hidx`) from the first to the last observed hour, with the
    * grid origin `h0` (µs) and the observed count `n_obs` (NULL on a
    * gap). */
  private def hourlyGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hus"))
    val bounds = ev.agg(min(col("hus")).as("h0"), max(col("hus")).as("hmax"))
    val hourly = ev.crossJoin(broadcast(bounds))
      .select(col("event_type"), ((col("hus") - col("h0")) / HourUs)
        .cast("long").as("hidx"))
      .groupBy("event_type", "hidx").agg(count(lit(1)).as("n_obs"))
    val types = ev.select("event_type").distinct()
    val spine = bounds
      .select(col("h0"), explode(sequence(lit(0L),
        ((col("hmax") - col("h0")) / HourUs).cast("long"))).as("hidx"))
      .crossJoin(broadcast(types))
    spine.join(hourly, Seq("event_type", "hidx"), "left")
  }

  /** q175 — calendar gap-fill to an hourly grid: build the dense
    * (event_type × hour) spine spanning the corpus, left-join the
    * observed hourly counts, zero-fill the holes, carry the last
    * observed count forward (the imputation a monitor plots), and flag
    * the gaps. q90 forward-fills over EXISTING rows; this operator
    * materializes the missing ones — the step q90 cannot express.
    * Spine size is #types × #hours regardless of event count. */
  def q175GapFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hidx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyGrid(spark, dir)
      .withColumn("carried_n",
        last(col("n_obs"), ignoreNulls = true).over(w))
      .select(col("event_type"),
        timestamp_micros(col("h0") + col("hidx") * HourUs).as("ts_hour"),
        coalesce(col("n_obs"), lit(0L)).as("n"),
        col("carried_n"),
        col("n_obs").isNull.as("is_gap"))
      .orderBy("event_type", "ts_hour")
  }

  /** Robust-score threshold for q176 (cells beyond Kmad × MAD). */
  private[graft] val Kmad = 3
  private[graft] val TopOutliers = 50

  /** q176 — robust outlier scan over user-day spend cells: aggregate
    * events to (user, day, Σcents), estimate center and scale with
    * median and MAD (50% breakdown point — a mean/stddev scan is
    * dragged by the very outliers it hunts), and report the top
    * [[TopOutliers]] cells whose deviation exceeds [[Kmad]]·MAD.
    * Two median passes over the CELL table (≤ users × days rows), each
    * a 1-row statistics aggregate broadcast back; the exact percentile
    * is the oracle-parity choice, with approx_percentile the documented
    * 100 TB drop-in (the q72 tradeoff). */
  def q176MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
    val med = cells.agg(expr("percentile(cents, 0.5d)").as("med"))
    val withDev = cells.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("cents") - col("med")))
    val mad = withDev.agg(expr("percentile(adev, 0.5d)").as("mad"))
    // MAD = 0 (over half the cells at the median) would make the score
    // division NULL here but ±Inf in IEEE engines — out of contract,
    // guarded identically in the oracle (ADVICE r8)
    withDev.crossJoin(broadcast(mad))
      .filter(col("mad") > 0 && col("adev") > col("mad") * Kmad)
      .select(col("user_id"), col("d"), col("cents"),
        round(col("med"), 1).as("median_cents"),
        round(col("mad"), 1).as("mad_cents"),
        round((col("cents") - col("med")) / col("mad"), 6).as("score"))
      .orderBy(col("score").desc, col("user_id"), col("d"))
      .limit(TopOutliers)
  }

  /** q177 — weekly seasonality index: per (event_type, weekday), the
    * ratio of that weekday's mean daily count to the type's overall
    * mean daily count — the multiplicative seasonal profile a volume
    * forecaster divides out before trend fitting (q178). Runs on the
    * cached daily profile table; weekdays are ISO (0 = Monday), and
    * each index is mean_dow / mean_type with both means formed as
    * single divisions of exact integers. */
  def q177DowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"),
        weekday(expr("date_add(d0, day)")).as("dow"), col("n"))
    val perType = daily.groupBy("event_type")
      .agg(sum(col("n")).as("s_all"), count(lit(1)).as("k_all"))
    daily.groupBy("event_type", "dow")
      .agg(sum(col("n")).as("s_dow"), count(lit(1)).as("k_dow"))
      .join(broadcast(perType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("k_dow").as("n_days"),
        col("s_dow").as("n_events"),
        round(col("s_dow").cast("double") / col("k_dow"), 6)
          .as("mean_daily"),
        round((col("s_dow").cast("double") / col("k_dow")) /
          (col("s_all").cast("double") / col("k_all")), 6).as("seasonal_ix"))
      .orderBy("event_type", "dow")
  }

  /** q178 — per-type linear trend (OLS of daily count on day index):
    * slope, intercept and R² from the five moment sums, all folded as
    * exact BIGINTs in ONE map-side-combinable aggregate over the daily
    * profile — the closed-form regression that needs no iteration and
    * no sort, the cheapest "is volume growing?" answer at any scale
    * (magnitudes stay far under 2^53 at the documented 100 TB profile
    * sizes because the sums are over the DAILY table, not events). */
  def q178OlsTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("d"), col("n"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("k"), sum(col("d")).as("sd"),
        sum(col("n")).as("sn"), sum(col("d") * col("n")).as("sdn"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("n") * col("n")).as("snn"))
      .withColumn("num", (col("k") * col("sdn") - col("sd") * col("sn"))
        .cast("double"))
      .withColumn("dend", (col("k") * col("sdd") - col("sd") * col("sd"))
        .cast("double"))
      .withColumn("denn", (col("k") * col("snn") - col("sn") * col("sn"))
        .cast("double"))
      .withColumn("slope", col("num") / col("dend"))
      // a 1-day series (dend = 0) or constant counts (denn = 0) have no
      // defined slope/r2 — NULL here vs NaN/Inf in IEEE engines, so both
      // are filtered out of contract, mirrored in the oracle (ADVICE r8);
      // dend > 0 is implied by k >= 2 (day indexes are distinct)
      .filter(col("k") >= 2 && col("denn") =!= 0.0)
      .select(col("event_type"), col("k").as("n_days"),
        round(col("slope"), 6).as("slope"),
        round((col("sn").cast("double") - col("slope") * col("sd")) /
          col("k"), 6).as("intercept"),
        round((col("num") * col("num")) / (col("dend") * col("denn")), 6)
          .as("r2"))
      .orderBy("event_type")
  }

  /** Alert threshold for q187 in quarters (4·|Δ| > prev ⟺ |Δ|/prev
    * > 25%) — a pure integer compare, no division in the predicate. */
  private[graft] val AlertQuarters = 4

  /** q187 — day-over-day volume alerts: per event type, flag every
    * day whose count moved more than 25% against the previous
    * observed day — the simplest production volume monitor, run on
    * the daily profile table so the lag window is series-bounded.
    * The alert predicate is exact integer arithmetic
    * ([[AlertQuarters]]·|Δ| > prev); the displayed pct_change is one
    * correctly-rounded division. */
  def q187DodAlerts(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull &&
        abs(col("n") - col("prev_n")) * AlertQuarters > col("prev_n"))
      .select(col("event_type"),
        expr("date_add(d0, day)").as("alert_day"),
        col("prev_n"), col("n"),
        round((col("n") - col("prev_n")).cast("double") / col("prev_n"), 6)
          .as("pct_change"))
      .orderBy("event_type", "alert_day")
  }

  /** q194 — Theil–Sen robust trend: per type, the MEDIAN of all
    * pairwise slopes of the daily series (and the median-residual
    * intercept under that slope) — the 29%-breakdown companion to
    * q178's OLS, immune to the outlier days q187 alerts on. The pair
    * generation is a self-join of the daily profile with itself
    * (≤ days²/2 rows per type — calendar-bounded, the q156 lag-join
    * discipline taken quadratic because days are few); each slope is
    * one correctly-rounded division of exact integers, and both
    * medians interpolate doubles identically cross-engine. */
  def q194TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("d"), col("n"))
    val slopes = daily.alias("a")
      .join(daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.n") - col("a.n")).cast("double") /
          (col("b.d") - col("a.d"))).as("slope"))
    val tsSlope = slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope, 0.5d)").as("ts_slope"))
    daily.join(broadcast(tsSlope), Seq("event_type"))
      .select(col("event_type"), col("n_pairs"), col("ts_slope"),
        (col("n").cast("double") - col("ts_slope") * col("d"))
          .as("res_intercept"))
      .groupBy("event_type", "n_pairs", "ts_slope")
      .agg(expr("percentile(res_intercept, 0.5d)").as("ts_intercept"))
      .select(col("event_type"), col("n_pairs"),
        round(col("ts_slope"), 6).as("ts_slope"),
        round(col("ts_intercept"), 6).as("ts_intercept"))
      .orderBy("event_type")
  }

  /** Normal critical value at α = 0.05 two-sided for q236, pinned as a
    * literal (the Benford6/KsCoeff05 discipline). */
  private[graft] val MkZCrit = 1.96

  /** q236 — MANN–KENDALL trend test per event type: the
    * SIGNIFICANCE companion to q178 (OLS fits a slope) and q194
    * (Theil–Sen robustifies it) — neither says whether the trend is
    * distinguishable from noise. S = Σ_{i<j} sign(x_j − x_i) over the
    * daily series, Var(S) with the tie correction
    * (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18, and the
    * continuity-corrected Z = (S ∓ 1)/√Var(S) read against ±1.96.
    * Distribution-free: no normality assumption on daily counts.
    *
    * Exactness: S and both variance polynomials fold as exact
    * BIGINTs (counts and day indexes are integers; sign() of an exact
    * difference is exact); Var(S) is ONE division by 18 and Z one
    * division by one sqrt — identical op shapes cross-engine.
    *
    * Scale shape: the pair stage is the q194 self-join of the daily
    * PROFILE (≤ days²/2 rows per type — calendar-bounded); the tie
    * fold runs on the same profile. Nothing touches raw events twice. */
  def q236MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("d"), col("n"))
    val sFold = daily.alias("a")
      .join(daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(signum(col("b.n") - col("a.n")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("event_type", "n")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie_poly"))
    sFold.join(ties, Seq("event_type"))
      .withColumn("var_s",
        (untiedVarPoly(col("n_days")) - col("tie_poly")).cast("double")
          / 18.0)
      .withColumn("z",
        when(col("s_stat") > 0L,
          (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0L,
            (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("s_stat"), round(col("var_s"), 4).as("var_s"),
        round(col("z"), 6).as("z"),
        when(col("z") > MkZCrit, lit("increasing"))
          .when(col("z") < -MkZCrit, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
      .orderBy("event_type")
  }

  /** n(n−1)(2n+5) — the untied Var(S) polynomial, exact integer. */
  private def untiedVarPoly(n: Column): Column =
    n * (n - 1L) * (lit(2L) * n + 5L)

  /** q246 — LINEAR-INTERPOLATION gap fill on the hourly grid: q175
    * carries the LAST value forward (a step function — right for
    * state-like series); this fills each missing hour on the straight
    * line between its nearest observed neighbors — the imputation a
    * forecaster or charting layer wants for flow-like series, and the
    * one q90/q175's last-value machinery cannot express because it
    * needs the NEXT observation too.
    *
    * Exactness: interp = prev + (next − prev)·(t − t_prev)/(t_next −
    * t_prev), every term an exact integer, ONE division + rounding to
    * 4dp; boundary gaps (no prev or no next) stay NULL in both
    * engines.
    *
    * Scale shape: the q175 spine discipline — the dense grid is
    * #types × #hours regardless of event count, and both
    * neighbor-windows run per type over that calendar-bounded spine. */
  def q246LinearInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy("event_type").orderBy("hidx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy("event_type").orderBy("hidx")
      .rowsBetween(1, Window.unboundedFollowing)
    val grid = hourlyGrid(spark, dir)
      .withColumn("obs_h",
        when(col("n_obs").isNotNull, col("hidx")))
      .withColumn("prev_h", last(col("obs_h"), ignoreNulls = true)
        .over(wPrev))
      .withColumn("prev_n", last(col("n_obs"), ignoreNulls = true)
        .over(wPrev))
      .withColumn("next_h", first(col("obs_h"), ignoreNulls = true)
        .over(wNext))
      .withColumn("next_n", first(col("n_obs"), ignoreNulls = true)
        .over(wNext))
    grid.select(col("event_type"),
        timestamp_micros(col("h0") + col("hidx") * HourUs).as("ts_hour"),
        coalesce(col("n_obs"), lit(0L)).as("n"),
        col("n_obs").isNull.as("is_gap"),
        when(col("n_obs").isNotNull, col("n_obs").cast("double"))
          .otherwise(
            round(col("prev_n").cast("double") +
              (col("next_n") - col("prev_n")).cast("double") *
                (col("hidx") - col("prev_h")).cast("double") /
                (col("next_h") - col("prev_h")).cast("double"), 4))
          .as("interp"))
      .orderBy("event_type", "ts_hour")
  }

  /** q250 — OVERDISPERSION audit (index of dispersion): per event
    * type, D = s²/mean of the DAILY count series — the "is this
    * arrival process Poisson-like or bursty?" check that sizes
    * anomaly thresholds and rate limiters (a Poisson stream has
    * D ≈ 1; D ≫ 1 means burst clustering that a mean-based alert
    * will chronically page on). The q236 test asks about TREND; this
    * asks about NOISE SHAPE on the same profile.
    *
    * Exactness: k, Σn, Σn² fold exact on the daily profile; sample
    * variance and D form in mirrored double shapes (the q227/q165
    * discipline). Verdict thresholds (D < 2 poisson_like, < 5
    * moderate, else bursty) compare the rounded value.
    *
    * Scale shape: runs entirely on the cached daily profile. */
  def q250Overdispersion(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("n"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("q"))
      .filter(col("k") >= 2L)
      .withColumn("mean", col("s").cast("double") / col("k"))
      .withColumn("variance",
        (col("q").cast("double") - col("s").cast("double") * col("mean")) /
          (col("k") - 1))
      .withColumn("d", round(col("variance") / col("mean"), 6))
      .select(col("event_type"), col("k").as("n_days"),
        round(col("mean"), 6).as("mean_daily"),
        round(col("variance"), 6).as("var_daily"),
        col("d").as("dispersion"),
        when(col("d") < 2.0, lit("poisson_like"))
          .when(col("d") < 5.0, lit("moderate"))
          .otherwise(lit("bursty")).as("verdict"))
      .orderBy("event_type")
  }

  /** q252 — CUSUM mean-shift monitor (one-sided, upper): per event
    * type over the daily series, the classic sequential detector
    *   S_t = max(0, S_{t−1} + (x_t − μ0 − k))
    * realized by its CLOSED FORM S_t = P_t − min(0, min_{j≤t} P_j)
    * with P the prefix sum of (x − μ0 − k) — a running-min window
    * instead of a recursion, so the plan is one window pass. CUSUM
    * accumulates SMALL persistent shifts that q155's single-split scan
    * statistic and q187's day-over-day alerts both miss; the baseline
    * μ0 is the FIRST-HALF mean (the tuning snapshot), allowance
    * k = μ0/4 and threshold h = 2·μ0 are declared policy parameters
    * in exact micro-units.
    *
    * Exactness: μ0 is rounded ONCE to an exact micro-unit integer;
    * every term, prefix sum, running min, and S_t is then EXACT
    * BIGINT arithmetic end-to-end — the alarm predicate never touches
    * a double.
    *
    * Scale shape: everything runs on the cached daily profile;
    * windows partition per type over ≤ #days rows. */
  def q252Cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day"), col("n"))
    val mid = daily.agg(expr("(min(day) + max(day)) div 2").as("mid"))
    val mu = daily.crossJoin(broadcast(mid))
      .filter(col("day") <= col("mid"))
      .groupBy("event_type")
      .agg(expr("cast(round(sum(n) * 1e6 / count(1), 0) as bigint)")
        .as("mu_micro"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily.join(broadcast(mu), Seq("event_type"))
      .withColumn("k_micro", expr("mu_micro div 4"))
      .withColumn("h_micro", col("mu_micro") * 2L)
      .withColumn("term",
        col("n") * 1000000L - col("mu_micro") - col("k_micro"))
      .withColumn("p", sum(col("term")).over(wCum))
      .withColumn("runmin", least(lit(0L), min(col("p")).over(wCum)))
      .withColumn("s_micro", col("p") - col("runmin"))
    scored.select(col("event_type"), col("day"), col("n"),
        col("s_micro"), (col("s_micro") > col("h_micro")).as("alarm"))
      .orderBy("event_type", "day")
  }

  /** q268 audited seasonal periods (days). */
  private[graft] val SeasonPeriods = Seq(7, 30)

  /** Pinned micro-unit cos/sin tables per period, cos(2πr/P)·1e6 for
    * r = 0..P−1 (the Benford6/NdcgDisc6 discipline — libm trig is
    * 1-ulp, not correctly rounded, so both engines read the SAME
    * integer literals). */
  private[graft] def cos6(p: Int): Seq[Long] = (0 until p).map { r =>
    math.rint(math.cos(2 * math.Pi * r / p) * 1e6).toLong }
  private[graft] def sin6(p: Int): Seq[Long] = (0 until p).map { r =>
    math.rint(math.sin(2 * math.Pi * r / p) * 1e6).toLong }

  /** q268 — SPECTRAL SEASONALITY STRENGTH (single-frequency
    * periodogram) at the weekly and monthly periods, per event type:
    * the relative amplitude 2·|Σ(n_d − n̄)·e^(−2πi·d/P)| / (n·n̄) of
    * the daily-count series at each audited cycle — the HOW-MUCH
    * companion to q177's dow means (which show WHERE the weekly cycle
    * peaks but give no single comparable strength number, and cannot
    * see a monthly cycle at all). The number a capacity planner
    * thresholds before fitting any seasonal model.
    *
    * Exactness: cos/sin weights are pinned micro-unit literals keyed
    * by day mod P; A/B/C/S fold as exact BIGINTs over the daily
    * profile, mean-centering folds algebraically into exact integers
    * X = A·n − T·C (no fractional mean ever materializes), and the
    * amplitude is formed from the FINAL scalars in doubles with the
    * parenthesization mirrored verbatim (the q227 moment-product
    * rule; phase is deliberately not reported — atan2 is not in the
    * blessed function set). Phase-invariance makes the arbitrary
    * d0 epoch origin irrelevant. */
  def q268Periodogram(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day"), col("n"))
    val withP = daily.withColumn("p",
      explode(array(SeasonPeriods.map(lit(_)): _*)))
    def trig(name: String, tab: Int => Seq[Long]): Column =
      SeasonPeriods.tail.foldLeft(
        when(col("p") === SeasonPeriods.head, expr(
          s"element_at(array(${tab(SeasonPeriods.head).mkString("L, ")}L)," +
            s" (day % ${SeasonPeriods.head}) + 1)"))) { (acc, per) =>
        acc.when(col("p") === per, expr(
          s"element_at(array(${tab(per).mkString("L, ")}L)," +
            s" (day % $per) + 1)"))
      }.as(name)
    val folded = withP
      .select(col("event_type"), col("p"), col("n"),
        trig("cv", cos6), trig("sv", sin6))
      .groupBy("event_type", "p")
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total_events"),
        sum(col("cv")).as("c_sum"), sum(col("sv")).as("s_sum"),
        sum(col("n") * col("cv")).as("a_sum"),
        sum(col("n") * col("sv")).as("b_sum"))
      .withColumn("x",
        col("a_sum") * col("n_days") - col("total_events") * col("c_sum"))
      .withColumn("y",
        col("b_sum") * col("n_days") - col("total_events") * col("s_sum"))
    folded
      .select(col("event_type"), col("p").as("period"), col("n_days"),
        col("total_events"),
        round(lit(2.0) * sqrt(
          col("x").cast("double") * col("x").cast("double") +
            col("y").cast("double") * col("y").cast("double")) /
          (lit(1e6) * col("n_days").cast("double") *
            col("total_events").cast("double")), 6).as("rel_amplitude"))
      .orderBy("event_type", "period")
  }

  /** q271 — NAIVE-BASELINE FORECAST BACKTEST: walk-forward one-step
    * MAE of the two baselines every forecaster must beat — naive-1
    * (tomorrow = today) and seasonal-naive-7 (tomorrow = same weekday
    * last week) — per event type on the daily profile, evaluated on
    * the common set of days where BOTH lags exist (a fair shared eval
    * window, declared). The model-selection harness one runs BEFORE
    * fitting anything: if seasonal-naive wins by a wide margin the
    * series is cycle-dominated (see q268/q177); if naive-1 wins it is
    * level-dominated and a seasonal model would overfit.
    *
    * Exactness: both lags are equi-joins of the daily profile to
    * itself on (type, day−k) — gap days simply produce no eval row,
    * identically in both engines; absolute errors fold as exact
    * BIGINTs; each MAE is one division; the winner verdict compares
    * the EXACT integer error sums, never the rounded MAEs. */
  def q271ForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day"), col("n"))
    val l1 = daily.select(col("event_type"), (col("day") + 1).as("day"),
      col("n").as("l1"))
    val l7 = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("n").as("l7"))
    daily.join(l1, Seq("event_type", "day"))
      .join(l7, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval_days"),
        sum(abs(col("n") - col("l1"))).as("ae1"),
        sum(abs(col("n") - col("l7"))).as("ae7"))
      .select(col("event_type"), col("n_eval_days"),
        round(col("ae1").cast("double") / col("n_eval_days"), 4)
          .as("mae_naive1"),
        round(col("ae7").cast("double") / col("n_eval_days"), 4)
          .as("mae_snaive7"),
        when(col("ae7") < col("ae1"), "seasonal_naive")
          .when(col("ae1") < col("ae7"), "naive").otherwise("tie")
          .as("winner"))
      .orderBy("event_type")
  }

  /** q275 burst threshold: a day is bursting when its count exceeds
    * median + [[BurstSigma]]·√median — the Poisson-surprise form (for
    * a Poisson-like arrival process √median is the noise scale, so
    * the threshold adapts to volume where a fixed multiplier either
    * never fires on high-volume series or always fires on low). */
  private[graft] val BurstSigma = 2.0

  /** q275 — BURST-EPISODE SEGMENTATION: maximal runs of consecutive
    * bursting days per event type (gaps-and-islands on the day index),
    * each reported with start/end/length/peak/volume — the EPISODE
    * view the pointwise monitors can't give: q187's DoD alerts and
    * q176's MAD outliers flag single days, q155 finds one level
    * shift; an incident reviewer wants "the burst lasted 3 days,
    * peaked at X" as one row. The daily median baseline is robust to
    * the bursts being measured (a mean baseline would be dragged up
    * by them).
    *
    * Exactness: counts are exact; the median is the engine-identical
    * exact percentile over the ≤-#days profile (q180's precedent);
    * the burst predicate median + [[BurstSigma]]·√median uses only
    * blessed operations (√ of the shared median double) and is
    * written identically in both engines; islands are pure integer
    * position arithmetic. Window runs over the burst-day profile
    * PARTITIONED BY TYPE (calendar-bounded). */
  def q275BurstEpisodes(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("n"))
    val med = daily.groupBy("event_type")
      .agg(expr("percentile(n, 0.5d)").as("med"))
    val burst = daily.join(broadcast(med), Seq("event_type"))
      .filter(col("n").cast("double") >
        col("med") + lit(BurstSigma) * sqrt(col("med")))
    val wIsl = Window.partitionBy("event_type").orderBy("day")
    burst
      .withColumn("grp", col("day") - row_number().over(wIsl))
      .groupBy("event_type", "grp")
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"), max(col("n")).as("peak_daily"),
        sum(col("n")).as("burst_volume"))
      .select(col("event_type"), col("start_day"), col("end_day"),
        col("n_days"), col("peak_daily"), col("burst_volume"))
      .orderBy("event_type", "start_day")
  }

  /** q293 kernels: the q261 truncated geometric kernel (r = 2^(−1/2)
    * micro-quantized) cut to 8 taps — the double kernel then spans 15
    * days, so the backtest warms by day 14 of the 30-day corpus (the
    * full 20-tap q261 kernel would never warm here; at a longer
    * history, widen the cut) — and its self-convolution: double
    * smoothing IS the same kernel applied twice, and in the warm
    * region (full history under both kernels) the denominators are
    * the constant ΣK and (ΣK)², so the whole recurrence collapses to
    * two integer convolutions. */
  private[graft] val BrownK: Seq[Long] = TimeSeries.EwmaW6.take(8)
  private[graft] val BrownK2: Seq[Long] =
    (0 until 2 * BrownK.length - 1).map { t =>
      (math.max(0, t - BrownK.length + 1) to
        math.min(t, BrownK.length - 1))
        .map(a => BrownK(a) * BrownK(t - a)).sum
    }
  /** Pinned Brown trend coefficients for r = 2^(−1/2): the one-step
    * forecast is (2 + c)·S1 − (1 + c)·S2 with c = r/(1−r) = 1/(√2−1)
    * = √2 + 1, micro-rounded once so both engines parse identical
    * literals (the Benford6 discipline). */
  private[graft] val Brown2Plus = 4.414214
  private[graft] val Brown1Plus = 3.414214

  /** q293 — BROWN DOUBLE-SMOOTHING FORECAST BACKTEST: one-step-ahead
    * linear-trend forecasts f_{t+1} = (2+c)·S1_t − (1+c)·S2_t (Brown
    * 1959 — PAPERS.md) per event type, scored as MAE against the next
    * day's actual count and against the q271 persistence baseline on
    * the SAME eval days — the trend-following forecaster q271's naive
    * baselines exist to beat (or embarrass). S1/S2 are the q261
    * truncated-kernel smoothings; the warm region makes both exact
    * integer convolutions (see [[BrownK2]]), so there is no float
    * recurrence at all.
    *
    * Exactness: num1/num2 fold as exact BIGINTs (one contribution
    * explode, 39 taps); each day's |error| micro-quantizes to BIGINT
    * before the MAE fold (q169 discipline); the winner verdict
    * cross-multiplies the exact integer error sums (never compares
    * rounded doubles). Zero-event days inside a window contribute
    * nothing — identical zero-fill semantics in both engines; an eval
    * day exists iff any event fell in its trailing 39-day window
    * (mirrored by construction). */
  def q293BrownBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = TimeSeries.dailySeries(spark, dir)
      .select(col("event_type"), col("day").cast("long").as("day"),
        col("n"))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    val w1 = BrownK.sum
    val w2 = BrownK2.sum
    val taps2 = BrownK2.length
    val k1Pad = BrownK.padTo(taps2, 0L)
    val k1Arr = s"array(${k1Pad.mkString("L, ")}L)"
    val k2Arr = s"array(${BrownK2.mkString("L, ")}L)"
    val contrib = daily
      .select(col("event_type"), col("day"), col("n"),
        explode(sequence(lit(0), lit(taps2 - 1))).as("j"))
      .select(col("event_type"), (col("day") + col("j")).as("tday"),
        (col("n") * expr(s"element_at($k1Arr, j + 1)")).as("wn1"),
        (col("n") * expr(s"element_at($k2Arr, j + 1)")).as("wn2"))
    val smooth = contrib.crossJoin(broadcast(maxDay))
      .filter(col("tday") >= lit(taps2 - 1).cast("long") &&
        col("tday") < col("max_day"))
      .groupBy("event_type", "tday")
      .agg(sum(col("wn1")).as("num1"), sum(col("wn2")).as("num2"))
    val f = lit(Brown2Plus) * (col("num1").cast("double") / lit(w1)) -
      lit(Brown1Plus) * (col("num2").cast("double") / lit(w2))
    val nextDay = daily.select(col("event_type"),
      (col("day") - 1).as("tday"), col("n").as("y1"))
    val sameDay = daily.select(col("event_type"),
      col("day").as("tday"), col("n").as("y0"))
    val scored = smooth
      .join(nextDay, Seq("event_type", "tday"), "left")
      .join(sameDay, Seq("event_type", "tday"), "left")
      .select(col("event_type"),
        round(abs(f - coalesce(col("y1"), lit(0L)).cast("double")) *
          lit(1000000d), 0).cast("long").as("err_mu"),
        abs(coalesce(col("y0"), lit(0L)) - coalesce(col("y1"), lit(0L)))
          .as("err_naive"))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval_days"),
        sum("err_mu").as("se_mu"), sum("err_naive").as("se_n"))
      .select(col("event_type"), col("n_eval_days"),
        round(col("se_mu").cast("double") / 1000000d / col("n_eval_days"),
          4).as("mae_brown"),
        round(col("se_n").cast("double") / col("n_eval_days"), 4)
          .as("mae_naive1"),
        when(col("se_mu") < col("se_n") * lit(1000000L), "brown")
          .when(col("se_mu") > col("se_n") * lit(1000000L), "naive")
          .otherwise("tie").as("winner"),
        when(col("se_n") > 0,
          round(lit(1.0) - col("se_mu").cast("double") /
            (col("se_n").cast("double") * 1000000d), 6))
          .as("skill"))
      .orderBy("event_type")
  }

  /** q294 — SEASONAL / TREND STRENGTH (the Hyndman–Athanasopoulos FPP
    * decomposition-strength measures, PAPERS.md): per event type,
    * classical additive decomposition on the ZERO-FILLED daily series
    * — trend = centered 7-day moving average, seasonal = mean
    * detrended value per day-of-week position (day index mod 7, so
    * no engine-specific weekday numbering) — then
    * F_trend = max(0, 1 − Var(R)/Var(deseasonalized)) and
    * F_seasonal = max(0, 1 − Var(R)/Var(detrended)). ONE pair of
    * numbers that says whether q177's day-of-week profile and q178's
    * trend are LOAD-BEARING structure or noise.
    *
    * Exactness: the zero-filled spine makes the 7-day window sum an
    * exact integer everywhere the window is full; detrended·7 =
    * 7y − Σ₇ stays integer (no division until the profile); the
    * seasonal means are single divisions of exact integers; each
    * day's detrended/deseasonalized/residual value micro-quantizes to
    * BIGINT before the variance folds (q169 discipline), squares in
    * decimal(38)/HUGEINT (q274 rule); the strengths are fixed double
    * expressions over the moment folds. */
  /** q294/q299 shared per-day decomposition frame: (event_type, day,
    * d0, y, qdetr, qresid, qdeseas) over the full-MA-window days —
    * the classical-decomposition artifact both the strength report
    * and the anomaly scan read (cached: one spine + window pass). */
  private[operators] def decomposedDays(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"decomp_days|$dir") {
      val daily = TimeSeries.dailySeries(spark, dir)
        .select(col("event_type"), col("day").cast("long").as("day"),
          col("d0"), col("n"))
      val maxd = daily.agg(max(col("day")).as("max_day"),
        min(col("d0")).as("d0"))
      val spine = daily.select("event_type").distinct()
        .crossJoin(broadcast(maxd))
        .select(col("event_type"), col("max_day"), col("d0"),
          explode(expr("sequence(0L, max_day)")).as("day"))
        .join(daily.drop("d0"), Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), col("max_day"), col("d0"),
          coalesce(col("n"), lit(0L)).as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val valid = spine
        .withColumn("sum7", sum("y").over(w))
        .filter(col("day") >= 3 && col("day") <= col("max_day") - 3)
        .select(col("event_type"), col("day"), col("d0"), col("y"),
          (col("y") * 7 - col("sum7")).as("det7"),
          pmod(col("day"), lit(7L)).as("dow"))
      val sdow = valid.groupBy("event_type", "dow")
        .agg(sum("det7").as("sd"), count(lit(1)).as("sc"))
        .select(col("event_type"), col("dow"),
          (col("sd").cast("double") / (lit(7L) * col("sc"))).as("sdow"))
      def mu(c: Column): Column =
        round(c * lit(1000000d), 0).cast("long")
      valid.join(sdow, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("d0"), col("y"),
          mu(col("det7") / lit(7.0)).as("qdetr"),
          mu(col("det7") / lit(7.0) - col("sdow")).as("qresid"),
          mu(col("y") - col("sdow")).as("qdeseas"))
    }

  def q294SeasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val q = decomposedDays(spark, dir)
    def moments(c: String) = Seq(
      sum(col(c)).as(s"s_$c"),
      sum(col(c).cast("decimal(38,0)") * col(c)).as(s"s2_$c"))
    def varOf(c: String, n: Column): Column = {
      val s = col(s"s_$c").cast("double")
      (col(s"s2_$c").cast("double") - s * (s / n)) / n
    }
    val agg0 = q.groupBy("event_type")
      .agg(count(lit(1)).as("n_eval_days"),
        (moments("qdetr") ++ moments("qresid") ++
          moments("qdeseas")): _*)
    val n = col("n_eval_days")
    val vR = varOf("qresid", n)
    val vS = varOf("qdetr", n)
    val vT = varOf("qdeseas", n)
    agg0.select(col("event_type"), col("n_eval_days"),
        when(vT > 0, round(greatest(lit(0.0), lit(1.0) - vR / vT), 6))
          .as("trend_strength"),
        when(vS > 0, round(greatest(lit(0.0), lit(1.0) - vR / vS), 6))
          .as("seasonal_strength"))
      .orderBy("event_type")
  }

  /** q299 anomaly threshold in residual sigmas. */
  private[graft] val AnomalySigma = 2.0

  /** q299 — SEASONALLY-ADJUSTED ANOMALY SCAN: days whose classical-
    * decomposition residual (the q294 artifact) exceeds
    * [[AnomalySigma]]·σ_R for their event type — the anomaly monitor
    * that q176's raw-value MAD cannot be: a Sunday dip or a steady
    * ramp is STRUCTURE here, not an alert, because trend and
    * day-of-week season are subtracted before scoring. Reports the
    * flagged days with their observed count, residual and z.
    *
    * Exactness: residuals ride the shared micro-quantized q294 frame;
    * σ_R is one fixed double expression over the exact moment fold;
    * z is a single division and the flag compares identically formed
    * doubles in both engines. */
  def q299DecompositionAnomalies(spark: SparkSession, dir: String)
      : DataFrame = {
    val q = decomposedDays(spark, dir)
    val mom = q.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), sum("qresid").as("sr"),
        sum(col("qresid").cast("decimal(38,0)") * col("qresid"))
          .as("sr2"))
      .select(col("event_type"),
        sqrt((col("sr2").cast("double") -
          col("sr").cast("double") * (col("sr").cast("double") / col("nd")))
          / col("nd")).as("sigma_mu"))
    val z = col("qresid").cast("double") / col("sigma_mu")
    q.join(broadcast(mom), Seq("event_type"))
      .filter(col("sigma_mu") > 0 && abs(z) > AnomalySigma)
      .select(col("event_type"),
        expr("date_add(d0, cast(day as int))").as("day"),
        col("y"),
        round(col("qresid").cast("double") / 1000000d, 4).as("residual"),
        round(z, 4).as("z"))
      .orderBy("event_type", "day")
  }

  /** q322 — HOUR-OF-DAY LOAD PROFILE: per event type, the peak hour,
    * its share of daily volume and the peak-to-mean ratio — the
    * capacity-planning numbers (how much headroom must the pipeline
    * provision over its average rate?) on the one calendar axis the
    * seasonality family doesn't cover: q177 profiles weekdays, q268
    * scans day-scale periods; load is provisioned by the HOUR. The
    * fixed 24-slot denominator makes peak-to-mean exactly
    * peak·24/total.
    *
    * Exactness: slot counts exact; argmax tie-breaks (count desc,
    * hour asc); both ratios single divisions. */
  def q322LoadProfile(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("h"))
    hourly
      .withColumn("tot", sum("n").over(Window.partitionBy("event_type")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("tot").as("n_events"),
        col("h").as("peak_hour"), col("n").as("peak_n"),
        round(col("n").cast("double") / col("tot"), 6).as("peak_share"),
        round(col("n").cast("double") * 24 / col("tot"), 4)
          .as("peak_to_mean"))
      .orderBy("event_type")
  }

  /** Oracle CTEs of the per-type daily counts with exact BIGINT `n`
    * and the last day index `md`; q293 and the decomposition chain
    * below read them. */
  private val dailyCountsCtes: String =
    s"""${TimeSeries.dayIndexCtes("CAST(count(*) AS BIGINT)")},
      |md AS (SELECT max(day) AS max_day FROM daily)""".stripMargin

  /** The seasonal decomposition q294 and q299 share: the dense
    * (type × day) `spine`, its centered 7-day sums `ma`, the detrended
    * `valid` days and the weekday means `sdow`. */
  private val seasonalCtes: String =
    s"""$dailyCountsCtes,
      |spine AS (
      |  SELECT t.event_type, g.day,
      |         CAST(COALESCE(d.n, 0) AS BIGINT) AS y
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN (SELECT unnest(generate_series(0,
      |                (SELECT max_day FROM md))) AS day) g
      |  LEFT JOIN daily d ON d.event_type = t.event_type
      |                   AND d.day = g.day),
      |ma AS (
      |  SELECT event_type, day, y,
      |         CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
      |           AS sum7
      |  FROM spine),
      |valid AS (
      |  SELECT event_type, day, y, y * 7 - sum7 AS det7,
      |         day % 7 AS dow
      |  FROM ma
      |  WHERE day >= 3 AND day <= (SELECT max_day FROM md) - 3),
      |sdow AS (
      |  SELECT event_type, dow,
      |         CAST(sum(det7) AS DOUBLE) / (7 * count(*)) AS sdow
      |  FROM valid GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q322_load_profile", q322LoadProfile _,
      """WITH hourly AS (
        |  SELECT event_type,
        |         CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS h,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ranked AS (
        |  SELECT event_type, h, n,
        |         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS tot,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY n DESC, h) AS rn
        |  FROM ranked_src)
        |SELECT event_type, tot AS n_events, h AS peak_hour,
        |       n AS peak_n,
        |       round(CAST(n AS DOUBLE) / tot, 6) AS peak_share,
        |       round(CAST(n AS DOUBLE) * 24 / tot, 4) AS peak_to_mean
        |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin
        .replace("ranked_src", "hourly")),
    QueryDef("q299_decomposition_anomalies", q299DecompositionAnomalies _,
      s"""WITH $seasonalCtes,
        |q AS (
        |  SELECT v.event_type, v.day, v.y,
        |         CAST(round(v.det7 / 7.0 * 1000000, 0) AS BIGINT)
        |           AS qdetr,
        |         CAST(round((v.det7 / 7.0 - s.sdow) * 1000000, 0)
        |           AS BIGINT) AS qresid,
        |         CAST(round((v.y - s.sdow) * 1000000, 0) AS BIGINT)
        |           AS qdeseas
        |  FROM valid v JOIN sdow s
        |    ON s.event_type = v.event_type AND s.dow = v.dow),
        |mom AS (
        |  SELECT event_type,
        |         sqrt((CAST(sum(CAST(qresid AS HUGEINT) * qresid)
        |                 AS DOUBLE)
        |               - CAST(sum(qresid) AS DOUBLE)
        |                 * (CAST(sum(qresid) AS DOUBLE) / count(*)))
        |              / count(*)) AS sigma_mu
        |  FROM q GROUP BY 1)
        |SELECT q.event_type,
        |       (SELECT d0 FROM d0) + CAST(q.day AS INTEGER) AS day,
        |       q.y,
        |       round(CAST(q.qresid AS DOUBLE) / 1000000, 4) AS residual,
        |       round(CAST(q.qresid AS DOUBLE) / m.sigma_mu, 4) AS z
        |FROM q JOIN mom m USING (event_type)
        |WHERE m.sigma_mu > 0
        |  AND abs(CAST(q.qresid AS DOUBLE) / m.sigma_mu) > $AnomalySigma
        |ORDER BY q.event_type, day""".stripMargin),
    QueryDef("q294_seasonal_strength", q294SeasonalStrength _,
      s"""WITH $seasonalCtes,
        |q AS (
        |  SELECT v.event_type,
        |         CAST(round(v.det7 / 7.0 * 1000000, 0) AS BIGINT)
        |           AS qdetr,
        |         CAST(round((v.det7 / 7.0 - s.sdow) * 1000000, 0)
        |           AS BIGINT) AS qresid,
        |         CAST(round((v.y - s.sdow) * 1000000, 0) AS BIGINT)
        |           AS qdeseas
        |  FROM valid v JOIN sdow s
        |    ON s.event_type = v.event_type AND s.dow = v.dow),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval_days,
        |         CAST(sum(qdetr) AS BIGINT) AS s_detr,
        |         sum(CAST(qdetr AS HUGEINT) * qdetr) AS s2_detr,
        |         CAST(sum(qresid) AS BIGINT) AS s_resid,
        |         sum(CAST(qresid AS HUGEINT) * qresid) AS s2_resid,
        |         CAST(sum(qdeseas) AS BIGINT) AS s_deseas,
        |         sum(CAST(qdeseas AS HUGEINT) * qdeseas) AS s2_deseas
        |  FROM q GROUP BY 1),
        |v AS (
        |  SELECT event_type, n_eval_days,
        |         (CAST(s2_resid AS DOUBLE) - CAST(s_resid AS DOUBLE)
        |            * (CAST(s_resid AS DOUBLE) / n_eval_days))
        |           / n_eval_days AS v_r,
        |         (CAST(s2_detr AS DOUBLE) - CAST(s_detr AS DOUBLE)
        |            * (CAST(s_detr AS DOUBLE) / n_eval_days))
        |           / n_eval_days AS v_s,
        |         (CAST(s2_deseas AS DOUBLE) - CAST(s_deseas AS DOUBLE)
        |            * (CAST(s_deseas AS DOUBLE) / n_eval_days))
        |           / n_eval_days AS v_t
        |  FROM m)
        |SELECT event_type, n_eval_days,
        |       CASE WHEN v_t > 0 THEN
        |         round(greatest(0.0, 1.0 - v_r / v_t), 6) END
        |         AS trend_strength,
        |       CASE WHEN v_s > 0 THEN
        |         round(greatest(0.0, 1.0 - v_r / v_s), 6) END
        |         AS seasonal_strength
        |FROM v ORDER BY event_type""".stripMargin),
    QueryDef("q293_brown_backtest", q293BrownBacktest _,
      {
      val taps2 = BrownK2.length
      val k1List = s"[${BrownK.padTo(taps2, 0L).mkString(", ")}]"
      val k2List = s"[${BrownK2.mkString(", ")}]"
      val w1 = BrownK.sum
      val w2 = BrownK2.sum
      s"""WITH $dailyCountsCtes,
        |contrib AS (
        |  SELECT d.event_type, d.day + t.j AS tday,
        |         d.n * $k1List[t.j + 1] AS wn1,
        |         d.n * $k2List[t.j + 1] AS wn2
        |  FROM daily d CROSS JOIN
        |    (SELECT unnest(generate_series(0, ${taps2 - 1})) AS j) t),
        |smooth AS (
        |  SELECT event_type, tday,
        |         CAST(sum(wn1) AS BIGINT) AS num1,
        |         CAST(sum(wn2) AS BIGINT) AS num2
        |  FROM contrib
        |  WHERE tday >= ${taps2 - 1} AND tday < (SELECT max_day FROM md)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT s.event_type,
        |         CAST(round(abs($Brown2Plus
        |                        * (CAST(s.num1 AS DOUBLE) / $w1)
        |                        - $Brown1Plus
        |                          * (CAST(s.num2 AS DOUBLE) / $w2)
        |                        - CAST(COALESCE(n1.n, 0) AS DOUBLE))
        |                    * 1000000, 0) AS BIGINT) AS err_mu,
        |         abs(COALESCE(n0.n, 0) - COALESCE(n1.n, 0)) AS err_naive
        |  FROM smooth s
        |  LEFT JOIN daily n1 ON n1.event_type = s.event_type
        |                    AND n1.day = s.tday + 1
        |  LEFT JOIN daily n0 ON n0.event_type = s.event_type
        |                    AND n0.day = s.tday),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval_days,
        |         CAST(sum(err_mu) AS BIGINT) AS se_mu,
        |         CAST(sum(err_naive) AS BIGINT) AS se_n
        |  FROM scored GROUP BY 1)
        |SELECT event_type, n_eval_days,
        |       round(CAST(se_mu AS DOUBLE) / 1000000 / n_eval_days, 4)
        |         AS mae_brown,
        |       round(CAST(se_n AS DOUBLE) / n_eval_days, 4) AS mae_naive1,
        |       CASE WHEN se_mu < se_n * 1000000 THEN 'brown'
        |            WHEN se_mu > se_n * 1000000 THEN 'naive'
        |            ELSE 'tie' END AS winner,
        |       CASE WHEN se_n > 0 THEN
        |         round(1.0 - CAST(se_mu AS DOUBLE)
        |               / (CAST(se_n AS DOUBLE) * 1000000), 6)
        |       END AS skill
        |FROM agg ORDER BY event_type""".stripMargin
    }),
    QueryDef("q275_burst_episodes", q275BurstEpisodes _,
      s"""WITH ${TimeSeries.dayIndexCtes()},
        |med AS (
        |  SELECT event_type,
        |         quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
        |  FROM daily GROUP BY 1),
        |burst AS (
        |  SELECT d.event_type, d.day, d.n
        |  FROM daily d JOIN med m ON m.event_type = d.event_type
        |  WHERE CAST(d.n AS DOUBLE) > m.med + $BurstSigma * sqrt(m.med)),
        |isl AS (
        |  SELECT event_type, day, n,
        |         day - row_number() OVER (PARTITION BY event_type
        |           ORDER BY day) AS grp
        |  FROM burst)
        |SELECT event_type,
        |       CAST(min(day) AS BIGINT) AS start_day,
        |       CAST(max(day) AS BIGINT) AS end_day,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(max(n) AS BIGINT) AS peak_daily,
        |       CAST(sum(n) AS BIGINT) AS burst_volume
        |FROM isl GROUP BY event_type, grp
        |ORDER BY event_type, start_day""".stripMargin),
    QueryDef("q268_periodogram", q268Periodogram _,
      {
      def lst(xs: Seq[Long]) = s"[${xs.mkString(", ")}]"
      s"""WITH ${TimeSeries.dayIndexCtes()},
        |withp AS (
        |  SELECT event_type, day, n,
        |         unnest(${lst(SeasonPeriods.map(_.toLong))}) AS p
        |  FROM daily),
        |terms AS (
        |  SELECT event_type, p, n,
        |         CASE WHEN p = 7
        |              THEN ${lst(cos6(7))}[CAST((day % 7) + 1 AS INTEGER)]
        |              ELSE ${lst(cos6(30))}[CAST((day % 30) + 1 AS INTEGER)]
        |         END AS cv,
        |         CASE WHEN p = 7
        |              THEN ${lst(sin6(7))}[CAST((day % 7) + 1 AS INTEGER)]
        |              ELSE ${lst(sin6(30))}[CAST((day % 30) + 1 AS INTEGER)]
        |         END AS sv
        |  FROM withp),
        |folded AS (
        |  SELECT event_type, p,
        |         CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(n) AS BIGINT) AS total_events,
        |         CAST(sum(cv) AS BIGINT) AS c_sum,
        |         CAST(sum(sv) AS BIGINT) AS s_sum,
        |         CAST(sum(n * cv) AS BIGINT) AS a_sum,
        |         CAST(sum(n * sv) AS BIGINT) AS b_sum
        |  FROM terms GROUP BY 1, 2),
        |xy AS (
        |  SELECT event_type, p, n_days, total_events,
        |         a_sum * n_days - total_events * c_sum AS x,
        |         b_sum * n_days - total_events * s_sum AS y
        |  FROM folded)
        |SELECT event_type, CAST(p AS INTEGER) AS period, n_days,
        |       total_events,
        |       round(2.0 * sqrt(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |               + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
        |             / (1e6 * CAST(n_days AS DOUBLE)
        |                * CAST(total_events AS DOUBLE)), 6)
        |         AS rel_amplitude
        |FROM xy ORDER BY event_type, period""".stripMargin
    }),
    QueryDef("q271_forecast_backtest", q271ForecastBacktest _,
      s"""WITH ${TimeSeries.dayIndexCtes()},
        |ev_l AS (
        |  SELECT d.event_type, d.n, a.n AS l1, b.n AS l7
        |  FROM daily d
        |  JOIN daily a ON a.event_type = d.event_type
        |               AND a.day = d.day - 1
        |  JOIN daily b ON b.event_type = d.event_type
        |               AND b.day = d.day - 7),
        |agg AS (
        |  SELECT event_type,
        |         CAST(count(*) AS BIGINT) AS n_eval_days,
        |         CAST(sum(abs(n - l1)) AS BIGINT) AS ae1,
        |         CAST(sum(abs(n - l7)) AS BIGINT) AS ae7
        |  FROM ev_l GROUP BY 1)
        |SELECT event_type, n_eval_days,
        |       round(CAST(ae1 AS DOUBLE) / n_eval_days, 4) AS mae_naive1,
        |       round(CAST(ae7 AS DOUBLE) / n_eval_days, 4) AS mae_snaive7,
        |       CASE WHEN ae7 < ae1 THEN 'seasonal_naive'
        |            WHEN ae1 < ae7 THEN 'naive'
        |            ELSE 'tie' END AS winner
        |FROM agg ORDER BY event_type""".stripMargin),
    QueryDef("q252_cusum", q252Cusum _,
      s"""WITH ${TimeSeries.dayIndexCtes()},
        |mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM daily),
        |mu AS (
        |  SELECT event_type,
        |         CAST(round(sum(n) * 1e6 / count(*), 0) AS BIGINT)
        |           AS mu_micro
        |  FROM daily WHERE day <= (SELECT mid FROM mid)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT d.event_type, d.day, d.n, m.mu_micro,
        |         m.mu_micro // 4 AS k_micro,
        |         m.mu_micro * 2 AS h_micro,
        |         CAST(sum(d.n * 1000000 - m.mu_micro - m.mu_micro // 4)
        |              OVER (PARTITION BY d.event_type ORDER BY d.day
        |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
        |  FROM daily d JOIN mu m ON d.event_type = m.event_type),
        |runm AS (
        |  SELECT *,
        |         least(0, CAST(min(p) OVER (PARTITION BY event_type
        |           ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT))
        |           AS runmin
        |  FROM scored)
        |SELECT event_type, CAST(day AS INTEGER) AS day, n,
        |       CAST(p - runmin AS BIGINT) AS s_micro,
        |       p - runmin > h_micro AS alarm
        |FROM runm ORDER BY event_type, day""".stripMargin),
    QueryDef("q250_overdispersion", q250Overdispersion _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS dd
        |  FROM events),
        |daily AS (
        |  SELECT event_type, dd, count(*) AS n FROM ev GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS k,
        |         CAST(sum(n) AS BIGINT) AS s,
        |         CAST(sum(n * n) AS BIGINT) AS q
        |  FROM daily GROUP BY 1),
        |f AS (
        |  SELECT event_type, k,
        |         CAST(s AS DOUBLE) / k AS mean,
        |         (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
        |            * (CAST(s AS DOUBLE) / k)) / (k - 1) AS variance
        |  FROM m WHERE k >= 2),
        |d AS (SELECT *, round(variance / mean, 6) AS disp FROM f)
        |SELECT event_type, k AS n_days,
        |       round(mean, 6) AS mean_daily,
        |       round(variance, 6) AS var_daily,
        |       disp AS dispersion,
        |       CASE WHEN disp < 2.0 THEN 'poisson_like'
        |            WHEN disp < 5.0 THEN 'moderate'
        |            ELSE 'bursty' END AS verdict
        |FROM d ORDER BY event_type""".stripMargin),
    QueryDef("q246_linear_interpolate", q246LinearInterpolate _,
      s"""WITH ev AS (
        |  SELECT event_type,
        |         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |           AS hus
        |  FROM events),
        |bounds AS (SELECT min(hus) AS h0, max(hus) AS hmax FROM ev),
        |hourly AS (
        |  SELECT event_type,
        |         (hus - (SELECT h0 FROM bounds)) // $HourUs AS hidx,
        |         count(*) AS n_obs
        |  FROM ev GROUP BY 1, 2),
        |spine AS (
        |  SELECT t.event_type, g.hidx
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(generate_series(0,
        |    ((SELECT hmax FROM bounds) - (SELECT h0 FROM bounds))
        |      // $HourUs)) AS hidx) g),
        |grid AS (
        |  SELECT s.event_type, s.hidx, h.n_obs,
        |         CASE WHEN h.n_obs IS NOT NULL THEN s.hidx END AS obs_h
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hidx = h.hidx),
        |nb AS (
        |  SELECT *,
        |    last_value(obs_h IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hidx ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS prev_h,
        |    last_value(CASE WHEN n_obs IS NOT NULL THEN n_obs END
        |      IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hidx ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING) AS prev_n,
        |    first_value(obs_h IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hidx ROWS BETWEEN 1 FOLLOWING
        |      AND UNBOUNDED FOLLOWING) AS next_h,
        |    first_value(CASE WHEN n_obs IS NOT NULL THEN n_obs END
        |      IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY hidx ROWS BETWEEN 1 FOLLOWING
        |      AND UNBOUNDED FOLLOWING) AS next_n
        |  FROM grid)
        |SELECT event_type,
        |       make_timestamp((SELECT h0 FROM bounds) + hidx * $HourUs)
        |         AS ts_hour,
        |       COALESCE(n_obs, 0) AS n,
        |       n_obs IS NULL AS is_gap,
        |       CASE WHEN n_obs IS NOT NULL THEN CAST(n_obs AS DOUBLE)
        |            ELSE round(CAST(prev_n AS DOUBLE)
        |                   + CAST(next_n - prev_n AS DOUBLE)
        |                     * CAST(hidx - prev_h AS DOUBLE)
        |                     / CAST(next_h - prev_h AS DOUBLE), 4)
        |       END AS interp
        |FROM nb ORDER BY event_type, ts_hour""".stripMargin),
    QueryDef("q236_mann_kendall", q236MannKendall _,
      s"""WITH ${TimeSeries.dayIndexCtes(day = "d")},
        |s_fold AS (
        |  SELECT a.event_type, count(*) AS n_pairs,
        |         CAST(sum(CASE WHEN b.n > a.n THEN 1
        |                       WHEN b.n < a.n THEN -1 ELSE 0 END)
        |              AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND a.d < b.d
        |  GROUP BY 1),
        |ties AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_poly
        |  FROM (SELECT event_type, n, count(*) AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |stat AS (
        |  SELECT s.event_type, t.n_days, s.n_pairs, s.s_stat,
        |         CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
        |              - t.tie_poly AS DOUBLE) / 18.0 AS var_s
        |  FROM s_fold s JOIN ties t ON s.event_type = t.event_type),
        |z AS (
        |  SELECT event_type, n_days, n_pairs, s_stat, var_s,
        |         CASE WHEN s_stat > 0
        |                THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |              WHEN s_stat < 0
        |                THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |              ELSE 0.0 END AS z
        |  FROM stat)
        |SELECT event_type, n_days, n_pairs, s_stat,
        |       round(var_s, 4) AS var_s, round(z, 6) AS z,
        |       CASE WHEN z > $MkZCrit THEN 'increasing'
        |            WHEN z < -$MkZCrit THEN 'decreasing'
        |            ELSE 'none' END AS trend
        |FROM z ORDER BY event_type""".stripMargin),
    QueryDef("q194_theil_sen", q194TheilSen _,
      s"""WITH ${TimeSeries.dayIndexCtes(day = "d")},
        |slopes AS (
        |  SELECT a.event_type,
        |         CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
        |  FROM daily a JOIN daily b
        |    ON b.event_type = a.event_type AND a.d < b.d),
        |ts AS (
        |  SELECT event_type, count(*) AS n_pairs,
        |         quantile_cont(slope, 0.5) AS ts_slope
        |  FROM slopes GROUP BY 1),
        |res AS (
        |  SELECT d.event_type, t.n_pairs, t.ts_slope,
        |         CAST(d.n AS DOUBLE) - t.ts_slope * d.d AS res_intercept
        |  FROM daily d JOIN ts t ON t.event_type = d.event_type)
        |SELECT event_type, n_pairs,
        |       round(ts_slope, 6) AS ts_slope,
        |       round(quantile_cont(res_intercept, 0.5), 6) AS ts_intercept
        |FROM res GROUP BY event_type, n_pairs, ts_slope
        |ORDER BY event_type""".stripMargin),
    QueryDef("q175_gap_fill", q175GapFill _,
      """WITH ev AS (
        |  SELECT event_type,
        |         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hus
        |  FROM events),
        |bounds AS (SELECT min(hus) AS h0, max(hus) AS hmax FROM ev),
        |hourly AS (
        |  SELECT event_type,
        |         (hus - (SELECT h0 FROM bounds)) // 3600000000 AS hidx,
        |         count(*) AS n_obs
        |  FROM ev GROUP BY 1, 2),
        |spine AS (
        |  SELECT t.event_type, CAST(g.hidx AS BIGINT) AS hidx
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(range(0,
        |    ((SELECT hmax FROM bounds) - (SELECT h0 FROM bounds))
        |      // 3600000000 + 1)) AS hidx) g)
        |SELECT s.event_type,
        |       make_timestamp((SELECT h0 FROM bounds)
        |                      + s.hidx * 3600000000) AS ts_hour,
        |       COALESCE(h.n_obs, 0) AS n,
        |       last_value(h.n_obs IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.hidx
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS carried_n,
        |       h.n_obs IS NULL AS is_gap
        |FROM spine s LEFT JOIN hourly h
        |  ON h.event_type = s.event_type AND h.hidx = s.hidx
        |ORDER BY s.event_type, ts_hour""".stripMargin),
    QueryDef("q176_mad_outliers", q176MadOutliers _,
      s"""WITH cells AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
        |        FROM cells),
        |dev AS (
        |  SELECT user_id, d, cents,
        |         abs(cents - (SELECT med FROM med)) AS adev
        |  FROM cells),
        |mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
        |SELECT user_id, d, cents,
        |       round((SELECT med FROM med), 1) AS median_cents,
        |       round((SELECT mad FROM mad), 1) AS mad_cents,
        |       round((cents - (SELECT med FROM med))
        |             / (SELECT mad FROM mad), 6) AS score
        |FROM dev
        |WHERE (SELECT mad FROM mad) > 0
        |  AND adev > $Kmad * (SELECT mad FROM mad)
        |ORDER BY score DESC, user_id, d
        |LIMIT $TopOutliers""".stripMargin),
    QueryDef("q177_dow_seasonality", q177DowSeasonality _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |daily AS (
        |  SELECT event_type, d, count(*) AS n FROM ev GROUP BY 1, 2),
        |typed AS (
        |  SELECT event_type, CAST(isodow(d) - 1 AS INTEGER) AS dow, n
        |  FROM daily),
        |per_type AS (
        |  SELECT event_type, sum(n) AS s_all, count(*) AS k_all
        |  FROM typed GROUP BY 1)
        |SELECT t.event_type, dow, count(*) AS n_days,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_daily,
        |       round((CAST(sum(n) AS DOUBLE) / count(*)) /
        |             (CAST(p.s_all AS DOUBLE) / p.k_all), 6) AS seasonal_ix
        |FROM typed t JOIN per_type p ON p.event_type = t.event_type
        |GROUP BY t.event_type, dow, p.s_all, p.k_all
        |ORDER BY t.event_type, dow""".stripMargin),
    QueryDef("q178_ols_trend", q178OlsTrend _,
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |daily AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', (SELECT d0 FROM d0), d) AS BIGINT)
        |           AS day,
        |         count(*) AS n
        |  FROM ev GROUP BY 1, 2),
        |sums AS (
        |  SELECT event_type, count(*) AS k,
        |         CAST(sum(day) AS BIGINT) AS sd,
        |         CAST(sum(n) AS BIGINT) AS sn,
        |         CAST(sum(day * n) AS BIGINT) AS sdn,
        |         CAST(sum(day * day) AS BIGINT) AS sdd,
        |         CAST(sum(n * n) AS BIGINT) AS snn
        |  FROM daily GROUP BY 1),
        |fitted AS (
        |  SELECT event_type, k,
        |         CAST(k * sdn - sd * sn AS DOUBLE) AS num,
        |         CAST(k * sdd - sd * sd AS DOUBLE) AS dend,
        |         CAST(k * snn - sn * sn AS DOUBLE) AS denn,
        |         sd, sn
        |  FROM sums)
        |SELECT event_type, k AS n_days,
        |       round(num / dend, 6) AS slope,
        |       round((CAST(sn AS DOUBLE) - (num / dend) * sd) / k, 6)
        |         AS intercept,
        |       round((num * num) / (dend * denn), 6) AS r2
        |FROM fitted
        |WHERE k >= 2 AND denn <> 0
        |ORDER BY event_type""".stripMargin),
    QueryDef("q187_dod_alerts", q187DodAlerts _,
      s"""WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |daily AS (
        |  SELECT event_type, d, count(*) AS n FROM ev GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, d, n,
        |         lag(n) OVER (PARTITION BY event_type ORDER BY d)
        |           AS prev_n
        |  FROM daily)
        |SELECT event_type, d AS alert_day, prev_n, n,
        |       round(CAST(n - prev_n AS DOUBLE) / prev_n, 6) AS pct_change
        |FROM lagged
        |WHERE prev_n IS NOT NULL
        |  AND abs(n - prev_n) * $AlertQuarters > prev_n
        |ORDER BY event_type, alert_day""".stripMargin))
}
