package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] user-lifecycle analytics over the events stream: lifetime
  * survival curve (q179), inter-arrival cadence statistics (q180), and
  * rolling active-user counts with stickiness (q182) — the engagement
  * dashboard trio that sits beside q83's cohort matrix and q81's
  * sessions.
  *
  * Scale shape (the q151/q155 profile-table discipline throughout):
  * q179 folds users to a LIFETIME HISTOGRAM (≤ #days rows) with one
  * map-side-combinable aggregate, and the survival suffix-sum windows
  * over the tiny spine only — never a per-user window. q182 avoids the
  * (users × days) range join entirely: each observed (user, day) is
  * exploded map-side into the ≤7 trailing windows it serves, so the
  * distinct-count shuffle carries at most 7× the deduplicated
  * user-day table and no range predicate survives to the join. q180 is
  * one window pass partitioned on (user, type); its exact percentiles
  * are the oracle-parity choice with approx_percentile the documented
  * 100 TB drop-in (the q72/q176 tradeoff).
  *
  * Determinism: lifetimes/deltas are exact integer micros; rates are
  * single correctly-rounded divisions of < 2^53 integers; percentile
  * interpolation over BIGINTs matches DuckDB quantile_cont (parity
  * proven by q56/q116).
  *
  * Also here: the funnel (q82), cohort retention (q83, q349), the event
  * transition matrix (q84), sequence matching (q95), journey mining
  * (q191) and the retention-weighted LTV curve (q359).
  */
object Lifecycle {

  /** Longest lifetime (days) reported on the q179 curve. */
  private[graft] val MaxLifetimeDays = 28

  /** q179 — lifetime survival curve: S(k) = fraction of users whose
    * observed lifetime (last event − first event) reaches ≥ k days,
    * for k = 0..[[MaxLifetimeDays]] — the retention summary that does
    * not need a cohort axis. Users fold to min/max micros (one
    * combinable aggregate), lifetimes to a histogram, and S(k) is a
    * suffix sum over the 29-row spine (single-partition window over
    * spine rows only — bounded by the CURVE length, not by users). */
  def q179SurvivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val lifetimes = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(least(
        ((col("last_us") - col("first_us")) / 86400000000L).cast("long"),
        lit(MaxLifetimeDays.toLong)).as("ltd"))
    val hist = lifetimes.groupBy("ltd").agg(count(lit(1)).as("n"))
    val spine = spark.range(0L, MaxLifetimeDays + 1L)
      .select(col("id").as("k"))
    val w = Window.orderBy(col("ltd").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val survived = hist
      .withColumn("surv", sum(col("n")).over(w))
    spine.join(survived, col("k") === col("ltd"), "left")
      .withColumn("survived",
        max(col("surv")).over(Window.orderBy(col("k").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(
        hist.agg(sum(col("n")).as("total_users"))))
      .select(col("k").as("day"),
        coalesce(col("survived"), lit(0L)).as("survived"),
        col("total_users"),
        round(coalesce(col("survived"), lit(0L)).cast("double") /
          col("total_users"), 6).as("survival_rate"))
      .orderBy("day")
  }

  /** q272 audited inactivity thresholds (seconds). */
  private[graft] val SessionThresholds = Seq(600L, 1800L, 3600L)

  /** q272 — SESSIONIZATION-THRESHOLD OPERATING CURVE: how many
    * sessions, events-per-session, and gap-break rate the corpus
    * yields at each candidate inactivity threshold — the TUNING view
    * behind q81's single fixed threshold (and q46's session windows):
    * pick the threshold where the curve's knee sits, instead of
    * cargo-culting 30 minutes. The q249 threshold-curve idea applied
    * to sessionization.
    *
    * One lag-window pass over each user's full event stream (the
    * honest q81/q180 cost), then ONE conditional fold evaluates ALL
    * thresholds simultaneously: a user's session count at threshold T
    * is 1 + (gaps > T), so n_sessions(T) = n_users + Σ(gaps > T) —
    * first-event rows (NULL gap) count the users in the same pass.
    * All counts exact; each rate is one division. */
  def q272SessionThresholds(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("delta_us", col("us") - lag(col("us"), 1).over(w))
    val breakCols = SessionThresholds.map { t =>
      sum(when(col("delta_us") > t * 1000000L, 1L).otherwise(0L))
        .as(s"b$t")
    }
    val agg = gaps.agg(count(lit(1)).as("n_events"),
      (sum(when(col("delta_us").isNull, 1L).otherwise(0L)).as("n_users")
        +: breakCols): _*)
    val rows = SessionThresholds.map { t =>
      struct(lit(t).as("threshold_s"), col(s"b$t").as("n_breaks"))
    }
    agg
      .select(col("n_events"), col("n_users"),
        explode(array(rows: _*)).as("t"))
      .select(col("t.threshold_s").as("threshold_s"),
        (col("n_users") + col("t.n_breaks")).as("n_sessions"),
        round(col("n_events").cast("double") /
          (col("n_users") + col("t.n_breaks")).cast("double"), 4)
          .as("events_per_session"),
        round(col("t.n_breaks").cast("double") /
          (col("n_events") - col("n_users")).cast("double"), 6)
          .as("gap_break_rate"))
      .orderBy("threshold_s")
  }

  /** q180 — inter-arrival cadence per event type: the gap between a
    * user's consecutive events of the SAME type (lag over the
    * (user, type) stream), summarized as count / mean / median / p90
    * seconds — the "how often does this signal fire per user?"
    * profile that sizes watermarks (q44-q47) and session gaps (q81).
    * One window pass partitioned on (user_id, event_type); the
    * summary aggregate is grouped by type alone. */
  def q180InterArrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("us", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("delta_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("delta_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("delta_us")).as("sum_us"),
        expr("percentile(delta_us, 0.5d)").as("p50_us"),
        expr("percentile(delta_us, 0.9d)").as("p90_us"))
      .select(col("event_type"), col("n_gaps"),
        round((col("sum_us").cast("double") / col("n_gaps")) / 1e6, 6)
          .as("mean_s"),
        round(col("p50_us") / 1e6, 6).as("p50_s"),
        round(col("p90_us") / 1e6, 6).as("p90_s"))
      .orderBy("event_type")
  }

  /** q212 — WATERMARK-LATENESS profile: per event type (standing in
    * for the ingest shard — production partitions by the transport's
    * own shard key), order events by arrival sequence (event_id — the
    * generator's monotone assignment, the declared arrival proxy) and
    * measure each event's lateness against the running event-time
    * maximum: exactly the quantity Structured Streaming's watermark
    * bounds. The output row per type — late fraction, p50/p95/p99/max
    * lateness, and the suggested watermark delay ceil(p99) seconds —
    * is the data-derived answer to "what `withWatermark` delay keeps
    * 99% of events?" that q44–q47 currently take as a given constant.
    *
    * Scale shape: one window pass per shard partition (the honest
    * cost of any arrival-order audit — the same q81 class), then a
    * type-grain percentile fold. All lateness values are exact
    * integer micros; percentiles interpolate between integers (q56's
    * precedent); the suggestion is exact integer ceil. */
  def q212LatenessProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us", max(col("us")).over(w) - col("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        expr("percentile(late_us, 0.5d)").as("p50_us"),
        expr("percentile(late_us, 0.95d)").as("p95_us"),
        expr("percentile(late_us, 0.99d)").as("p99_us"),
        max(col("late_us")).as("max_us"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        round(col("n_late").cast("double") / col("n_events"), 6)
          .as("late_frac"),
        round(col("p50_us") / 1e6, 3).as("p50_late_s"),
        round(col("p95_us") / 1e6, 3).as("p95_late_s"),
        expr("cast(max_us div 1000000 as bigint)").as("max_late_s"),
        ceil(col("p99_us") / 1e6).cast("long").as("wm_suggest_s"))
      .orderBy("event_type")
  }

  /** Trailing window length (days) for q182's WAU. */
  private[graft] val WauDays = 7

  /** q182 — rolling active users: per calendar day, DAU (distinct
    * users that day) and trailing-7-day WAU, plus the DAU/WAU
    * stickiness ratio. The WAU join is inverted into a map-side
    * explode — each deduplicated (user, day) emits the ≤7 target days
    * it keeps active, so no range join and no per-day rescan; the
    * distinct count then shuffles once on (target_day, user). Day
    * spine is dense (q175's repair discipline): a day with no events
    * still reports its WAU from the trailing window. */
  def q182ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val bounds = du.agg(min(col("d")).as("d0"), max(col("d")).as("dmax"))
    val dau = du.groupBy("d").agg(count(lit(1)).as("dau"))
    val wau = du
      .select(col("user_id"), explode(expr(
        s"sequence(d, date_add(d, ${WauDays - 1}), interval 1 day)"))
        .as("target_d"))
      .groupBy("target_d")
      .agg(count_distinct(col("user_id")).as("wau"))
    val spine = bounds.select(
      explode(expr("sequence(d0, dmax, interval 1 day)")).as("day"))
    spine
      .join(dau, col("day") === col("d"), "left").drop("d")
      .join(wau, col("day") === col("target_d"), "left").drop("target_d")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"),
        round(coalesce(col("dau"), lit(0L)).cast("double") / col("wau"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Lag histogram cap (days) for q188; `NeverBucket` marks signups
    * with no subsequent purchase. */
  private[graft] val MaxLagDays = 7L
  private[graft] val NeverBucket = -1L

  /** q188 — signup→purchase conversion lag: for every user with a
    * signup, the days until their FIRST purchase at-or-after it,
    * bucketed 0..[[MaxLagDays]] (capped) with [[NeverBucket]] for
    * never-converted — the timing dimension q82's step-count funnel
    * does not carry. Two user-grain conditional aggregates (signup
    * floor, then earliest qualifying purchase via conditional min over
    * the joined stream) — both map-side-combinable; the lag division
    * is exact-integer micros → floor days (oracle `//`). */
  def q188ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(signups, Seq("user_id"))
      .filter(col("us") >= col("s_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"),
        min(col("s_us")).as("s_us"))
    signups.join(
        firstPurchase.select(col("user_id"),
          least(((col("p_us") - col("s_us")) / 86400000000L).cast("long"),
            lit(MaxLagDays)).as("lag_days")),
        Seq("user_id"), "left")
      .select(coalesce(col("lag_days"), lit(NeverBucket)).as("lag_days"))
      .groupBy("lag_days").agg(count(lit(1)).as("n_users"))
      .orderBy("lag_days")
  }

  /** q189 — cohort LTV curve: users cohorted by first-activity week,
    * purchase revenue accumulated by cohort age in weeks, reported as
    * cumulative cents per cohort user — the revenue companion to
    * q83's count-based retention matrix. Events fold straight to the
    * (cohort_week, age_week) grain (one combinable aggregate over the
    * scan after a user-grain cohort assignment join); the cumulative
    * window runs over that weeks² profile, never events. */
  def q189LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"),
      col("event_type"), col("value"),
      (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
    val d0 = ev.agg(min(col("day")).as("d0"))
    val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("first_day"))
      .crossJoin(broadcast(d0))
      .select(col("user_id"),
        ((col("first_day") - col("d0")) / 7L).cast("long").as("cohort_w"),
        col("first_day"))
    val sizes = cohorts.groupBy("cohort_w")
      .agg(count(lit(1)).as("cohort_users"))
    val revenue = ev.filter(col("event_type") === "purchase")
      .join(cohorts, Seq("user_id"))
      .select(col("cohort_w"),
        ((col("day") - col("first_day")) / 7L).cast("long").as("age_w"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy("cohort_w", "age_w").agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy("cohort_w").orderBy("age_w")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    revenue
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_w"))
      .select(col("cohort_w"), col("age_w"), col("cohort_users"),
        col("cents"), col("cum_cents"),
        round(col("cum_cents").cast("double") / col("cohort_users") / 100.0,
          6).as("ltv_per_user"))
      .orderBy("cohort_w", "age_w")
  }

  /** q235 censoring horizon: a user whose LAST activity falls within
    * this many days of the observation end may still be active — their
    * lifetime is right-censored, not a churn event. A policy parameter
    * (like [[MaxLifetimeDays]]); the observation end itself is
    * data-derived. */
  private[graft] val CensorHorizonDays = 7L

  /** q235 — KAPLAN–MEIER survival with RIGHT-CENSORING: the estimator
    * q179 cannot be — q179's raw lifetime curve silently treats every
    * user's last-seen day as a death, which BIASES survival downward
    * because users still active at the observation edge haven't
    * churned, we just stopped watching. KM handles that exactly:
    * per lifetime day t, n_t at risk, d_t churn events, c_t censored,
    * Ŝ(t) = Π_{s≤t} (1 − d_s/n_s) over event days.
    *
    * Determinism: the survival PRODUCT is the one place a naive
    * cross-engine float fold diverges (multiplication order). The
    * factors (1 − d/n) are single divisions of exact integers rounded
    * once to 6dp; the cumulative product is then an ORDERED
    * left-to-right fold of those identical doubles — collect_list
    * over the cumulative window + a higher-order `aggregate` lambda in
    * Spark, `list(... ORDER BY t)` + `list_reduce` in DuckDB — so both
    * engines multiply the same numbers in the same order.
    *
    * Scale shape: one user-grain min/max fold of the scan, then a
    * duration histogram (≤ observed-span rows); the cumulative
    * at-risk/product windows run over that day spine only (the q179
    * grant class — bounded by the CALENDAR, never by users). */
  def q235KmSurvival(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("first_d"),
        to_date(max(col("ts"))).as("last_d"))
    val obsEnd = perUser.agg(max(col("last_d")).as("obs_end"))
    val durations = perUser.crossJoin(broadcast(obsEnd))
      .select(datediff(col("last_d"), col("first_d")).cast("long").as("t"),
        (datediff(col("obs_end"), col("last_d")) >= CensorHorizonDays)
          .as("is_event"))
    val hist = durations.groupBy("t")
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("is_event"), 1L).otherwise(0L)).as("c"))
    val total = hist.agg(sum(col("d") + col("c")).as("n_total"))
    val wPre = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("d") + col("c")).over(wPre),
          lit(0L)))
      .withColumn("factor",
        round(lit(1.0) - col("d").cast("double") /
          col("n_risk").cast("double"), 6))
      .withColumn("km_s", round(
        aggregate(collect_list(col("factor")).over(wCum),
          lit(1.0), (acc, x) => acc * x), 6))
      .select(col("t").as("lifetime_days"), col("n_risk"), col("d")
        .as("d_churn"), col("c").as("c_censored"), col("factor"),
        col("km_s"))
      .orderBy("lifetime_days")
  }

  /** q296 — ORDER-TO-SHIP LEAD-TIME SLA TREND: per order month, the
    * exact P50 / P90 / mean of the ship lag (days between order date
    * and each line's ship date) — the operations SLA view none of the
    * volume trends (q08, q178) carry: volume can grow while the P90
    * lead time silently doubles. Month comes from the ORDER date (the
    * commitment the SLA is against). Negative lags (ship date before
    * order date — present in this synthetic corpus) are reported as
    * observed: they are an integrity finding for q181's family, not
    * something an SLA monitor should silently clamp.
    *
    * Exactness: lags are exact integer day differences; percentiles
    * are the engine-identical exact interpolated form over the
    * per-month lag profile (q151/q278 discipline); the mean is one
    * division of exact BIGINTs.
    *
    * Scale shape: ONE fact⋈fact equi-join on the order key (both
    * sides key-partitioned — the natural co-partitioning any
    * warehouse keeps), collapsed immediately to (month, lag) counts;
    * percentiles run over that profile, never the raw join. */
  def q296LeadTimeSla(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        to_date(col("l_shipdate")).as("ship"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
    li.join(ord, Seq("o_orderkey"))
      .select(col("month"), datediff(col("ship"), col("odate"))
        .cast("long").as("lag"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_lines"),
        sum("lag").as("s_lag"),
        expr("percentile(lag, 0.5)").as("p50"),
        expr("percentile(lag, 0.9)").as("p90"))
      .select(col("month"), col("n_lines"),
        round(col("s_lag").cast("double") / col("n_lines"), 4)
          .as("mean_lag_days"),
        round(col("p50"), 4).as("p50_days"),
        round(col("p90"), 4).as("p90_days"))
      .orderBy("month")
  }

  /** q302 — CHURN-LABEL CONSTRUCTION + engagement curve: label every
    * first-half-active user churned/retained by second-half absence
    * (the q151 shared midpoint — the standard activity-gap label a
    * churn model trains on, with the leakage rule built in: the
    * ENGAGEMENT feature is first-half-only), then report the churn
    * rate per engagement bucket. Buckets are value-based — a user's
    * bucket is how many of the first half's engagement-decile edges
    * its event count reaches (the q234 edge discipline) — so no
    * global ntile window ever runs over users.
    *
    * Exactness: counts exact; decile edges are engine-identical exact
    * percentiles over the first-half user-count profile; bucket
    * membership is a size-of-filter over the shared rounded edges;
    * the rate is one division. */
  def q302ChurnLabels(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val users = ev.crossJoin(broadcast(cut))
      .groupBy("user_id")
      .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0)
    val edges = users.agg(
      expr("transform(percentile(n1, array(0.1, 0.2, 0.3, 0.4, 0.5, " +
        "0.6, 0.7, 0.8, 0.9)), e -> round(e, 6))").as("edges"))
    users.crossJoin(broadcast(edges))
      .select(size(expr("filter(edges, e -> n1 >= e)")).as("bucket"),
        col("n1"), (col("n2") === 0).as("churned"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
        sum("n1").as("h1_events"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"))
      .select(col("bucket"), col("n_users"), col("h1_events"),
        col("n_churned"),
        round(col("n_churned").cast("double") / col("n_users"), 6)
          .as("churn_rate"))
      .orderBy("bucket")
  }

  /** q307 pinned z (95% two-sided), micro-rounded once (the Benford6
    * discipline — both engines parse the identical literal). */
  private[graft] val WilsonZ = 1.959964

  /** q307 — WILSON CONFIDENCE INTERVALS for the q302 churn curve: the
    * per-bucket churn rates upgraded from point estimates to 95%
    * Wilson score intervals — the interval that stays inside [0, 1]
    * and behaves at small n where the naive normal interval fails,
    * i.e. exactly the small high-engagement buckets a retention
    * review argues about. Two buckets whose intervals don't overlap
    * are REALLY different; a wide interval says "collect more data",
    * which the q302 point rate can't.
    *
    * Exactness: k and n are exact integers from the shared q302
    * construction; the Wilson bounds are one fixed double expression
    * each (√ blessed, z pinned), mirrored verbatim. */
  def q307ChurnWilson(spark: SparkSession, dir: String): DataFrame = {
    val base = q302ChurnLabels(spark, dir)
      .select(col("bucket"), col("n_users").as("n"),
        col("n_churned").as("k"), col("churn_rate"))
    val z = lit(WilsonZ)
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val denom = lit(1.0) + z * z / nD
    val center = p + z * z / (lit(2.0) * nD)
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
      z * z / (lit(4.0) * nD * nD))
    // + 0.0 normalizes the k = 0 bucket's −0.0 to +0.0 (IEEE: the sum
    // of signed zeros is +0 under round-to-nearest, in both engines)
    base.select(col("bucket"), col("n"), col("k"), col("churn_rate"),
        (round((center - half) / denom, 6) + lit(0.0)).as("wilson_lo"),
        (round((center + half) / denom, 6) + lit(0.0)).as("wilson_hi"))
      .orderBy("bucket")
  }

  /** q316 — USER INFLUX AUDIT: churn's mirror (q302 measures who
    * LEFT; this measures who ARRIVED) — per event type in the second
    * half: active users, how many are globally NEW (first event after
    * the shared midpoint), and what share of the type's second-half
    * volume the newcomers carry. A type whose volume is
    * newcomer-carried is growing on acquisition, not habit — the
    * retention review's first split.
    *
    * Exactness: newness is an exact integer comparison on each user's
    * global min timestamp; all counts exact; shares single
    * divisions. */
  def q316UserInflux(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val firstSeen = ev.groupBy("user_id").agg(min("us").as("first_us"))
    val h2 = ev.crossJoin(broadcast(cut))
      .filter(col("us") >= col("cut"))
      .join(firstSeen, Seq("user_id"))
      .select(col("event_type"), col("user_id"),
        (col("first_us") >= col("cut")).as("is_new"))
    val perUserType = h2.groupBy("event_type", "user_id", "is_new")
      .agg(count(lit(1)).as("n_ev"))
    perUserType.groupBy("event_type")
      .agg(count(lit(1)).as("h2_users"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("new_users"),
        sum("n_ev").as("h2_events"),
        sum(when(col("is_new"), col("n_ev")).otherwise(0L))
          .as("new_events"))
      .select(col("event_type"), col("h2_users"), col("new_users"),
        round(col("new_users").cast("double") / col("h2_users"), 6)
          .as("new_user_share"),
        round(col("new_events").cast("double") / col("h2_events"), 6)
          .as("new_volume_share"))
      .orderBy("event_type")
  }

  /** q320 candidate watermark delays (seconds). */
  private[graft] val WatermarkDelays = Seq(1L, 5L, 10L, 30L)

  /** q320 — WATERMARK-DELAY SWEEP: q212 suggests ONE delay (ceil p99);
    * this reports the operating curve — for each candidate
    * `withWatermark` delay, the fraction of events a streaming job
    * (q44–q47) would DROP as too-late, per type. The q272/q249
    * threshold-curve discipline applied to the streaming knob: pick
    * the knee, see exactly what any SLA-driven tighter delay costs.
    * Same arrival-order lateness profile as q212 (ONE window pass);
    * ALL candidate delays fold in one conditional aggregate.
    *
    * Exactness: lateness is exact integer micros; drop counts are
    * conditional integer folds; each rate one division. */
  def q320WatermarkSweep(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("late_us", max(col("us")).over(w) - col("us"))
    val folds = WatermarkDelays.map(d =>
      sum(when(col("late_us") > d * 1000000L, 1L).otherwise(0L))
        .as(s"d$d"))
    val agg = late.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), folds: _*)
    val rows = WatermarkDelays.map(d =>
      struct(lit(d).as("delay_s"), col(s"d$d").as("n_dropped"),
        round(col(s"d$d").cast("double") / col("n_events"), 6)
          .as("drop_rate")))
    agg.select(col("event_type"), col("n_events"),
        inline(array(rows: _*)))
      .orderBy("event_type", "delay_s")
  }

  /** q325 — INTER-ARRIVAL BURSTINESS (Goh–Barabási B = (σ−μ)/(σ+μ)):
    * per event type over the same per-(user, type) gaps q180
    * summarizes — B → −1 is a metronome, 0 is Poisson, → 1 is bursty.
    * The single dimensionless number that says whether q180's mean
    * cadence is TYPICAL or an average over silence-and-storm (and
    * whether q275's burst episodes are the rule or the exception).
    *
    * Exactness: gaps are exact integer micros; Σd and Σd² fold
    * exactly (Σd² in decimal(38)/HUGEINT — µs² passes int64, the q274
    * rule); σ, µ and B are one fixed double expression over them. */
  def q325Burstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("us", "event_id")
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("d", col("us") - lag(col("us"), 1).over(w))
      .filter(col("d").isNotNull)
    val stats = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("d").as("sd"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sd2"))
    val m = col("sd").cast("double") / col("n")
    val sig = sqrt((col("sd2").cast("double") -
      col("sd").cast("double") * m) / col("n"))
    stats
      .select(col("event_type"), col("n").as("n_gaps"),
        round(m / 1e6, 4).as("mean_gap_s"),
        round(sig / 1e6, 4).as("sd_gap_s"),
        round((sig - m) / (sig + m), 6).as("burstiness"))
      .orderBy("event_type")
  }

  /** q326 — ACTIVITY-STREAK DISTRIBUTION: maximal consecutive-day
    * activity runs per user (gaps-and-islands on the deduplicated
    * user-day table), folded to a streak-length histogram with user
    * reach — the habit-formation view next to q182's rolling counts
    * and q179's lifetime curve: how LONG do users stay daily-active
    * once they start? All integer arithmetic (islands by day-index −
    * row-number). */
  def q326StreakDistribution(spark: SparkSession, dir: String): DataFrame = {
    val userDays = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val streaks = userDays
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
    val tot = streaks.agg(count(lit(1)).as("t"))
    streaks.groupBy("len")
      .agg(count(lit(1)).as("n_streaks"),
        countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("len").as("streak_days"), col("n_streaks"),
        col("n_users"),
        round(col("n_streaks").cast("double") / col("t"), 6)
          .as("streak_share"))
      .orderBy("streak_days")
  }

  /** q327 audited activation milestones (events). */
  private[graft] val OnboardK = Seq(2, 5, 10)

  /** q327 — ONBOARDING VELOCITY: for each activation milestone K (the
    * Kth event), what fraction of users ever reach it and how fast
    * (median / p90 days from their first event) — the
    * time-to-activation funnel next to q179's lifetime curve: q179
    * says how long users LAST, this says how fast they DEEPEN, the
    * number an activation team actually targets.
    *
    * Exactness: per-user event ranks from one window pass; reach
    * times are exact integer day differences; percentiles the
    * engine-identical interpolated form; rates single divisions. */
  def q327OnboardingVelocity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ranked = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("first_us", min(col("us")).over(
        Window.partitionBy("user_id")))
    val totalUsers = ranked.filter(col("rn") === 1)
      .agg(count(lit(1)).as("n_users"))
    val rows = OnboardK.map { k =>
      ranked.filter(col("rn") === k)
        .select(expr(s"(us - first_us) div 86400000000").as("days"))
        .agg(count(lit(1)).as("n_reached"),
          expr("percentile(days, 0.5)").as("p50"),
          expr("percentile(days, 0.9)").as("p90"))
        .withColumn("milestone_k", lit(k.toLong))
    }.reduce(_ unionByName _)
    rows.crossJoin(broadcast(totalUsers))
      .select(col("milestone_k"), col("n_users"), col("n_reached"),
        round(try_divide(col("n_reached").cast("double"), col("n_users")), 6)
          .as("reach_rate"),
        round(col("p50"), 4).as("p50_days"),
        round(col("p90"), 4).as("p90_days"))
      .orderBy("milestone_k")
  }

  /** q330 — GROWTH ACCOUNTING (weekly): the canonical active-user
    * decomposition — per week, actives split into NEW (first-ever
    * week), RETAINED (also active the prior week) and RESURRECTED
    * (active before, skipped last week), plus the prior week's
    * CHURNED (active then, absent now) and the quick ratio
    * (new + resurrected)/churned — the growth review's one table,
    * which q302 (one-shot churn) and q316 (one-shot influx)
    * deliberately simplify. Weeks are day-index div 7 (engine-neutral
    * like q294's dow).
    *
    * Exactness: all counts are exact folds over the (user, week)
    * grain with integer lag comparisons; the ratio is one division
    * (NULL when nothing churned — declared, not ∞). */
  def q330GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'2024-01-01') div 7").as("wk"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("wk")
    val flagged = uw
      .withColumn("first_wk", min(col("wk")).over(
        Window.partitionBy("user_id")))
      .withColumn("prev_wk", lag(col("wk"), 1).over(w))
      .withColumn("next_wk", lead(col("wk"), 1).over(w))
    val states = flagged.select(col("wk"),
      when(col("wk") === col("first_wk"), "new")
        .when(col("prev_wk") === col("wk") - 1, "retained")
        .otherwise("resurrected").as("state"),
      // this row churns AFTER wk iff the user skips wk+1
      (col("next_wk").isNull || col("next_wk") > col("wk") + 1)
        .as("churns_after"))
    val byWeek = states.groupBy("wk")
      .agg(count(lit(1)).as("active"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("new_u"),
        sum(when(col("state") === "retained", 1L).otherwise(0L))
          .as("retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("resurrected"),
        sum(when(col("churns_after"), 1L).otherwise(0L))
          .as("churning_after"))
    val wOrd = Window.orderBy("wk")
    byWeek
      .withColumn("churned", lag(col("churning_after"), 1).over(wOrd))
      .select(col("wk").as("week"), col("active"), col("new_u").as("new"),
        col("retained"), col("resurrected"), col("churned"),
        when(col("churned") > 0,
          round((col("new_u") + col("resurrected")).cast("double") /
            col("churned"), 4)).as("quick_ratio"))
      .orderBy("week")
  }

  /** q333 — PRIORITY SLA CONFORMANCE: the q296 lead-time percentiles
    * split by ORDER PRIORITY instead of month — "do 1-URGENT orders
    * actually ship faster than 5-LOW?", the conformance question the
    * priority field exists to answer. Reports each class against the
    * overall P90 (beats_overall), so a priority scheme that nobody
    * honors is one boolean column away from visible.
    *
    * Exactness: integer day lags, engine-identical percentiles, one
    * comparison against the shared overall P90 double. */
  def q333PrioritySla(spark: SparkSession, dir: String): DataFrame = {
    val lags = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        to_date(col("l_shipdate")).as("ship"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("odate")), Seq("o_orderkey"))
      .select(col("priority"),
        datediff(col("ship"), col("odate")).cast("long").as("lag"))
    val overall = lags.agg(expr("percentile(lag, 0.9)").as("p90_all"))
    lags.groupBy("priority")
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile(lag, 0.5)").as("p50"),
        expr("percentile(lag, 0.9)").as("p90"))
      .crossJoin(broadcast(overall))
      .select(col("priority"), col("n_lines"),
        round(col("p50"), 4).as("p50_days"),
        round(col("p90"), 4).as("p90_days"),
        round(col("p90_all"), 4).as("p90_overall"),
        (col("p90") <= col("p90_all")).as("beats_overall"))
      .orderBy("priority")
  }

  /** q345 — EVENTS DATA CARD: the per-type one-row governance summary
    * (volume, reach, span, value stats) — q215 documents the TEXT
    * corpus; this is the same datasheet discipline for the EVENT
    * stream, the card a consumer reads before joining events into
    * anything. Exact integer folds, engine-identical percentiles,
    * single divisions. */
  def q345EventsDataCard(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        to_date(col("ts")).as("d"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("d")).as("n_days"),
        sum("cents").as("sc"),
        expr("percentile(cents, 0.5)").as("p50"),
        expr("percentile(cents, 0.95)").as("p95"),
        max("cents").as("mx"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("n_days"),
        round(col("sc").cast("double") / 100, 2).as("total_value"),
        round(col("sc").cast("double") / col("n_events") / 100, 4)
          .as("mean_value"),
        round(col("p50") / 100, 4).as("p50_value"),
        round(col("p95") / 100, 4).as("p95_value"),
        round(col("mx").cast("double") / 100, 2).as("max_value"),
        round(col("n_events").cast("double") / col("n_users"), 4)
          .as("events_per_user"))
      .orderBy("event_type")
  }

  /** q82 — funnel conversion view -> click -> purchase: per user, the
    * first view, the first click strictly after it, the first purchase
    * strictly after that; then per-step user counts and step-over-step
    * conversion. Cascaded conditional-min aggregates joined on user_id
    * (each join side is a per-user aggregate, orders of magnitude
    * smaller than the event log). */
  def q82Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    val steps = v.agg(count(lit(1)).as("n_users"))
      .withColumn("step", lit("1_view"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .withColumn("step", lit("2_click")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .withColumn("step", lit("3_purchase")))
    steps
      .withColumn("conv_from_prev", round(try_divide(
        col("n_users").cast("double"),
        lag(col("n_users"), 1).over(Window.orderBy("step"))), 4))
      .select(col("step"), col("n_users"), col("conv_from_prev"))
      .orderBy("step")
  }

  /** q83 — cohort retention: users grouped by first-activity week, distinct
    * actives per (cohort_week, week_offset). The first-seen aggregate is a
    * per-user reduction (broadcastable back), the retention matrix one
    * count-distinct — no per-week self-joins. */
  def q83CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"), col("ts"))
    val firstSeen = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    ev.join(firstSeen, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(to_date(date_trunc("week", col("ts"))),
          col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q84 — event-type transition matrix (first-order Markov): counts and
    * row-normalized probabilities of each (type -> next type) step per
    * user timeline. One window pass + one aggregate. */
  def q84TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("event_type")), 6))
      .orderBy("event_type", "next_type")
  }

  /** q95 — sequence pattern matching: each user's event-type timeline
    * collapsed to an ordered string, matched with regular expressions
    * (funnel-with-gaps via `view.*purchase`, adjacent-step counts via a
    * literal pair). collect_list + sort_array keeps it one aggregate per
    * user — per-user timelines are bounded, and the regex evaluates
    * distributed, not on the driver. The MATCH_RECOGNIZE-lite of event
    * analytics. */
  def q95SequenceMatch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      // sentinel commas wrap the sequence so every token is
      // comma-delimited on both sides: ',view,' can never match inside
      // a future 'preview' token (RE2 has no lookaround, so boundary
      // anchoring must come from the data). The adjacent count doubles
      // every delimiter first: non-overlapping matches of
      // ',view,,purchase,' then leave one comma behind on each side, so
      // back-to-back conversions ('view,purchase,view,purchase') count
      // as 2, not 1 — TRUE adjacent-pair counting without lookahead,
      // identical regex semantics in both engines (ADVICE.md r03).
      .agg(concat(lit(","), concat_ws(",", expr(
        """transform(sort_array(collect_list(struct(ts, event_id, event_type))),
          |          s -> s.event_type)""".stripMargin)), lit(",")).as("seq"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        col("seq").rlike(",view,(.*,)?purchase,").as("has_conversion"),
        regexp_count(regexp_replace(col("seq"), ",", ",,"),
          lit(",view,,purchase,")).cast("int")
          .as("n_adjacent_conv"))
      .orderBy("user_id")

  /** Journey prefix depth for q191. */
  private[graft] val JourneyDepth = 5

  /** q191 — frequent journey mining: each user's first
    * [[JourneyDepth]] events (by time) concatenated into a journey
    * string, then the journey frequency table — "what do new users DO
    * first?", the prefix-mining question q84's one-step transition
    * matrix and q95's fixed-pattern regex cannot answer. Each user
    * folds to one bounded string via sort_array over the collected
    * (us, event_id, type) structs (deterministic: the pair is unique),
    * and the journey rollup's cardinality is ≤ |types|^depth. */
  def q191JourneyMining(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).as("rec"))
      .groupBy("user_id")
      .agg(collect_list(col("rec")).as("recs"))
      .select(array_join(
        expr(s"transform(slice(array_sort(recs), 1, $JourneyDepth), " +
          "r -> r.event_type)"), ">").as("journey"))
      .groupBy("journey").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
  }

  /** q349 — COHORT RETENTION MATRIX: users grouped by first-activity
    * week (cohort), each cohort's share of users still active k weeks
    * later — the canonical growth/retention triangle every product
    * warehouse derives from its event stream (q330 accounts weekly
    * flows; this pivots them to cohort age, which is what retention
    * curves and LTV models actually consume). Weeks are exact integer
    * day-offsets div 7 from the corpus min date.
    *
    * Scale shape: one (user, week) distinct fold, one user-grain min
    * for the cohort, one (cohort, offset) fold joined to the
    * cohort-size profile — all content-key aggregates, output ≤
    * weeks² rows. */
  def q349CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val userWeeks = ev.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("datediff(d, d0) div 7").as("week"))
      .distinct()
    val cohorts = userWeeks.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    userWeeks.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q359 — RETENTION-WEIGHTED LTV CURVE: for each week-of-life k,
    * the expected revenue a user contributes in that week —
    * revenue(k) / users-at-risk(k), where at-risk counts every
    * cohort old enough to be OBSERVABLE at offset k (right-censoring
    * handled the q235 Kaplan–Meier way) — and the cumulative curve,
    * which is the lifetime value estimate q349's retention matrix and
    * q330's weekly flows feed but don't finish. The per-week
    * increment collapses algebraically to ONE exact division
    * (retention × ARPU = cents/n_obs).
    *
    * Scale shape: user-grain folds, ≤|weeks|-row profiles, cumulative
    * via a grouping-less collect fold. */
  def q359LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val base = ev.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("datediff(d, d0) div 7").as("week"),
        col("cents"))
    val cohorts = base.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val maxW = base.agg(max(col("week")).as("max_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val byOffset = base.join(cohorts, Seq("user_id"))
      .withColumn("k", col("week") - col("cohort_week"))
      .groupBy("k")
      .agg(sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_active_users"))
    // at-risk mass per offset: cohorts observable at k (tiny ≤-join:
    // weeks-profile × weeks-spine). Spine derived FROM THE DATA (the
    // observed offsets), exactly like the oracle's `DISTINCT k` — a
    // `spark.range(0, 1000)` literal would silently cap offsets at
    // 999 and drop ledger rows on a >19-year corpus while the oracle
    // kept them. Downstream is an inner join on k, so the two spines
    // are anyway equivalent only when nothing is capped.
    val spine = byOffset.select("k").distinct()
      .crossJoin(broadcast(maxW))
      .filter(col("k") <= col("max_week"))
    val atRisk = spine.join(broadcast(sizes),
        col("cohort_week") + col("k") <= col("max_week"))
      .groupBy("k").agg(sum(col("cohort_size")).as("n_obs"))
    val perK = byOffset.join(atRisk, Seq("k"))
      .withColumn("incr_micro",
        expr("cast(round(cents * 10000 / n_obs, 0) as bigint)"))
    perK
      .agg(expr(
        "array_sort(collect_list(struct(k, cents, n_active_users, " +
          "n_obs, incr_micro)))").as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.k AS week_offset, s.n_obs AS n_obs,
          |  s.n_active_users AS n_active, s.cents AS revenue_cents,
          |  s.incr_micro AS incr_micro,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.incr_micro) AS cum_micro)))"""
          .stripMargin))
      .select(col("week_offset"), col("n_obs"), col("n_active"),
        col("revenue_cents"),
        round(col("incr_micro").cast("double") / 1e6, 6)
          .as("incr_dollars"),
        round(col("cum_micro").cast("double") / 1e6, 6)
          .as("ltv_dollars"))
      .orderBy("week_offset")
  }

  /** The churn frame q302 and q307 share as oracle CTEs: `users`
    * (user_id, n1, n2) active in the first half of the event span,
    * with first- and second-half event counts, and the n1 decile
    * `edges`. */
  private val churnCtes: String =
    """ev AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id
      |  FROM events),
      |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
      |users AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN us < (SELECT cut FROM cut)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN us >= (SELECT cut FROM cut)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM ev GROUP BY 1
      |  HAVING sum(CASE WHEN us < (SELECT cut FROM cut)
      |             THEN 1 ELSE 0 END) > 0),
      |edges AS (
      |  SELECT list_transform(
      |           quantile_cont(n1, [0.1, 0.2, 0.3, 0.4, 0.5,
      |                              0.6, 0.7, 0.8, 0.9]),
      |           e -> round(e, 6)) AS edges
      |  FROM users)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q345_events_data_card", q345EventsDataCard _,
      """WITH ev AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(DISTINCT d) AS BIGINT) AS n_days,
        |       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS total_value,
        |       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 4)
        |         AS mean_value,
        |       round(quantile_cont(cents, 0.5) / 100, 4) AS p50_value,
        |       round(quantile_cont(cents, 0.95) / 100, 4) AS p95_value,
        |       round(CAST(max(cents) AS DOUBLE) / 100, 2) AS max_value,
        |       round(CAST(count(*) AS DOUBLE)
        |             / count(DISTINCT user_id), 4) AS events_per_user
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q333_priority_sla", q333PrioritySla _,
      """WITH lags AS (
        |  SELECT o.o_orderpriority AS priority,
        |         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |                        CAST(l.l_shipdate AS DATE)) AS BIGINT)
        |           AS lag
        |  FROM lineitem l JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey),
        |overall AS (SELECT quantile_cont(lag, 0.9) AS p90_all FROM lags)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(quantile_cont(lag, 0.5), 4) AS p50_days,
        |       round(quantile_cont(lag, 0.9), 4) AS p90_days,
        |       round((SELECT p90_all FROM overall), 4) AS p90_overall,
        |       quantile_cont(lag, 0.9) <= (SELECT p90_all FROM overall)
        |         AS beats_overall
        |FROM lags GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q327_onboarding_velocity", q327OnboardingVelocity _,
      {
      val arms = OnboardK.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS milestone_k,
           |  (SELECT n_users FROM tot) AS n_users,
           |  CAST(count(*) AS BIGINT) AS n_reached,
           |  round(CAST(count(*) AS DOUBLE)
           |        / (SELECT n_users FROM tot), 6) AS reach_rate,
           |  round(quantile_cont(days, 0.5), 4) AS p50_days,
           |  round(quantile_cont(days, 0.9), 4) AS p90_days
           |FROM ranked WHERE rn = $k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT user_id, event_id,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |ranked AS (
         |  SELECT user_id,
         |         row_number() OVER w AS rn,
         |         (us - min(us) OVER (PARTITION BY user_id)) // 86400000000
         |           AS days
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users
         |        FROM ranked WHERE rn = 1)
         |$arms
         |ORDER BY milestone_k""".stripMargin
    }),
    QueryDef("q330_growth_accounting", q330GrowthAccounting _,
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           // 7 AS wk
        |  FROM events),
        |flagged AS (
        |  SELECT wk,
        |         wk = min(wk) OVER (PARTITION BY user_id) AS is_new,
        |         lag(wk, 1) OVER w = wk - 1 AS is_retained,
        |         COALESCE(lead(wk, 1) OVER w > wk + 1, TRUE)
        |           AS churns_after
        |  FROM uw
        |  WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
        |by_week AS (
        |  SELECT wk, CAST(count(*) AS BIGINT) AS active,
        |         CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
        |           AS new_u,
        |         CAST(sum(CASE WHEN NOT is_new AND
        |                            COALESCE(is_retained, FALSE)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS retained,
        |         CAST(sum(CASE WHEN NOT is_new AND
        |                            NOT COALESCE(is_retained, FALSE)
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |           AS resurrected,
        |         CAST(sum(CASE WHEN churns_after THEN 1 ELSE 0 END)
        |           AS BIGINT) AS churning_after
        |  FROM flagged GROUP BY 1)
        |SELECT wk AS week, active, new_u AS "new", retained,
        |       resurrected,
        |       lag(churning_after, 1) OVER (ORDER BY wk) AS churned,
        |       CASE WHEN lag(churning_after, 1) OVER (ORDER BY wk) > 0
        |            THEN round(CAST(new_u + resurrected AS DOUBLE)
        |                 / lag(churning_after, 1) OVER (ORDER BY wk), 4)
        |       END AS quick_ratio
        |FROM by_week ORDER BY week""".stripMargin),
    QueryDef("q325_burstiness", q325Burstiness _,
      """WITH gaps AS (
        |  SELECT event_type,
        |         us - lag(us, 1) OVER w AS d
        |  FROM (SELECT user_id, event_type, event_id,
        |               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |        FROM events)
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY us, event_id)),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(d) AS BIGINT) AS sd,
        |         sum(CAST(d AS HUGEINT) * d) AS sd2
        |  FROM gaps WHERE d IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_gaps,
        |       round(CAST(sd AS DOUBLE) / n / 1e6, 4) AS mean_gap_s,
        |       round(sqrt((CAST(sd2 AS DOUBLE)
        |                   - CAST(sd AS DOUBLE)
        |                     * (CAST(sd AS DOUBLE) / n)) / n) / 1e6, 4)
        |         AS sd_gap_s,
        |       round((sqrt((CAST(sd2 AS DOUBLE)
        |                    - CAST(sd AS DOUBLE)
        |                      * (CAST(sd AS DOUBLE) / n)) / n)
        |              - CAST(sd AS DOUBLE) / n)
        |             / (sqrt((CAST(sd2 AS DOUBLE)
        |                      - CAST(sd AS DOUBLE)
        |                        * (CAST(sd AS DOUBLE) / n)) / n)
        |                + CAST(sd AS DOUBLE) / n), 6) AS burstiness
        |FROM stats ORDER BY event_type""".stripMargin),
    QueryDef("q326_streak_distribution", q326StreakDistribution _,
      """WITH user_days AS (
        |  SELECT DISTINCT user_id,
        |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |           AS day
        |  FROM events),
        |streaks AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM (SELECT user_id, day,
        |               day - row_number() OVER (PARTITION BY user_id
        |                                        ORDER BY day) AS grp
        |        FROM user_days)
        |  GROUP BY user_id, grp),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM streaks)
        |SELECT len AS streak_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       round(CAST(count(*) AS DOUBLE) / (SELECT t FROM tot), 6)
        |         AS streak_share
        |FROM streaks GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q320_watermark_sweep", q320WatermarkSweep _,
      {
      val arms = WatermarkDelays.map { d =>
        s"""SELECT event_type, n_events, CAST($d AS BIGINT) AS delay_s,
           |  d$d AS n_dropped,
           |  round(CAST(d$d AS DOUBLE) / n_events, 6) AS drop_rate
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      val folds = WatermarkDelays.map(d =>
        s"CAST(sum(CASE WHEN late_us > ${d * 1000000L} THEN 1 ELSE 0 END)" +
          s" AS BIGINT) AS d$d").mkString(",\n         ")
      s"""WITH late AS (
         |  SELECT event_type,
         |         max(epoch_us(CAST(ts AS TIMESTAMP)))
         |           OVER (PARTITION BY event_type ORDER BY event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING
         |                 AND CURRENT ROW)
         |           - epoch_us(CAST(ts AS TIMESTAMP)) AS late_us
         |  FROM events),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |         $folds
         |  FROM late GROUP BY 1)
         |$arms
         |ORDER BY event_type, delay_s""".stripMargin
    }),
    QueryDef("q316_user_influx", q316UserInflux _,
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |first_seen AS (
        |  SELECT user_id, min(us) AS first_us FROM ev GROUP BY 1),
        |put AS (
        |  SELECT e.event_type, e.user_id,
        |         f.first_us >= (SELECT cut FROM cut) AS is_new,
        |         CAST(count(*) AS BIGINT) AS n_ev
        |  FROM ev e JOIN first_seen f USING (user_id)
        |  WHERE e.us >= (SELECT cut FROM cut)
        |  GROUP BY 1, 2, 3)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS h2_users,
        |       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
        |         AS new_users,
        |       round(CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6) AS new_user_share,
        |       round(CAST(sum(CASE WHEN is_new THEN n_ev ELSE 0 END)
        |               AS DOUBLE) / sum(n_ev), 6) AS new_volume_share
        |FROM put GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q307_churn_wilson", q307ChurnWilson _,
      s"""WITH $churnCtes,
        |bucketed AS (
        |  SELECT CAST(len(list_filter((SELECT edges FROM edges),
        |                              e -> u.n1 >= e)) AS INTEGER)
        |           AS bucket,
        |         u.n2 = 0 AS churned
        |  FROM users u),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |           AS k
        |  FROM bucketed GROUP BY 1)
        |SELECT bucket, n, k,
        |       round(CAST(k AS DOUBLE) / count_n, 6) AS churn_rate,
        |       round((p + $WilsonZ * $WilsonZ / (2.0 * count_n)
        |              - $WilsonZ * sqrt(p * (1.0 - p) / count_n
        |                  + $WilsonZ * $WilsonZ
        |                    / (4.0 * count_n * count_n)))
        |             / (1.0 + $WilsonZ * $WilsonZ / count_n), 6) + 0.0
        |         AS wilson_lo,
        |       round((p + $WilsonZ * $WilsonZ / (2.0 * count_n)
        |              + $WilsonZ * sqrt(p * (1.0 - p) / count_n
        |                  + $WilsonZ * $WilsonZ
        |                    / (4.0 * count_n * count_n)))
        |             / (1.0 + $WilsonZ * $WilsonZ / count_n), 6) + 0.0
        |         AS wilson_hi
        |FROM (SELECT *, CAST(n AS DOUBLE) AS count_n,
        |             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |      FROM agg)
        |ORDER BY bucket""".stripMargin),
    QueryDef("q302_churn_labels", q302ChurnLabels _,
      s"""WITH $churnCtes,
        |bucketed AS (
        |  SELECT CAST(len(list_filter((SELECT edges FROM edges),
        |                              e -> u.n1 >= e)) AS INTEGER)
        |           AS bucket,
        |         u.n1, u.n2 = 0 AS churned
        |  FROM users u)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(n1) AS BIGINT) AS h1_events,
        |       CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_churned,
        |       round(CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6) AS churn_rate
        |FROM bucketed GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q296_lead_time_sla", q296LeadTimeSla _,
      """WITH lags AS (
        |  SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m')
        |           AS month,
        |         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |                        CAST(l.l_shipdate AS DATE)) AS BIGINT)
        |           AS lag
        |  FROM lineitem l JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(lag) AS DOUBLE) / count(*), 4)
        |         AS mean_lag_days,
        |       round(quantile_cont(lag, 0.5), 4) AS p50_days,
        |       round(quantile_cont(lag, 0.9), 4) AS p90_days
        |FROM lags GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q235_km_survival", q235KmSurvival _,
      s"""WITH per_user AS (
        |  SELECT user_id,
        |         CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS first_d,
        |         CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS last_d
        |  FROM events GROUP BY 1),
        |obs AS (SELECT max(last_d) AS obs_end FROM per_user),
        |dur AS (
        |  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
        |         date_diff('day', last_d, (SELECT obs_end FROM obs))
        |           >= $CensorHorizonDays AS is_event
        |  FROM per_user),
        |hist AS (
        |  SELECT t,
        |         CAST(sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d,
        |         CAST(sum(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
        |           AS c
        |  FROM dur GROUP BY 1),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM hist),
        |risk AS (
        |  SELECT t, d, c,
        |         (SELECT n_total FROM tot)
        |           - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS BIGINT), 0) AS n_risk
        |  FROM hist),
        |fac AS (
        |  SELECT t, n_risk, d, c,
        |         round(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 6)
        |           AS factor
        |  FROM risk),
        |km AS (
        |  SELECT t, n_risk, d, c, factor,
        |         round(list_reduce(list(factor) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |           (a, b) -> a * b), 6) AS km_s
        |  FROM fac)
        |SELECT t AS lifetime_days, n_risk, d AS d_churn, c AS c_censored,
        |       factor, km_s
        |FROM km ORDER BY lifetime_days""".stripMargin),
    QueryDef("q179_survival_curve", q179SurvivalCurve _,
      s"""WITH lt AS (
        |  SELECT least(
        |    (max(epoch_us(CAST(ts AS TIMESTAMP)))
        |     - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000,
        |    $MaxLifetimeDays) AS ltd
        |  FROM events GROUP BY user_id),
        |total AS (SELECT count(*) AS total_users FROM lt),
        |spine AS (SELECT CAST(unnest(range(0, ${MaxLifetimeDays + 1}))
        |                 AS BIGINT) AS day)
        |SELECT day,
        |       (SELECT count(*) FROM lt WHERE ltd >= day) AS survived,
        |       (SELECT total_users FROM total) AS total_users,
        |       round(CAST((SELECT count(*) FROM lt WHERE ltd >= day)
        |               AS DOUBLE)
        |             / (SELECT total_users FROM total), 6) AS survival_rate
        |FROM spine ORDER BY day""".stripMargin),
    QueryDef("q272_session_thresholds", q272SessionThresholds _,
      {
      val breakSelects = SessionThresholds.map { t =>
        s"CAST(sum(CASE WHEN delta_us > ${t * 1000000L} THEN 1 ELSE 0" +
          s" END) AS BIGINT) AS b$t"
      }.mkString(",\n        |         ")
      val valueRows = SessionThresholds.map(t => s"($t)").mkString(", ")
      val breakCase = SessionThresholds.map(t =>
        s"WHEN ${t} THEN b$t").mkString(" ")
      s"""WITH seq AS (
        |  SELECT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |               PARTITION BY user_id
        |               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           AS delta_us
        |  FROM events),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CASE WHEN delta_us IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_users,
        |         $breakSelects
        |  FROM seq),
        |rows_t AS (
        |  SELECT t.threshold_s, a.n_events, a.n_users,
        |         CASE t.threshold_s $breakCase END AS n_breaks
        |  FROM agg a, (VALUES $valueRows) t(threshold_s))
        |SELECT CAST(threshold_s AS BIGINT) AS threshold_s,
        |       n_users + n_breaks AS n_sessions,
        |       round(CAST(n_events AS DOUBLE)
        |             / CAST(n_users + n_breaks AS DOUBLE), 4)
        |         AS events_per_session,
        |       round(CAST(n_breaks AS DOUBLE)
        |             / CAST(n_events - n_users AS DOUBLE), 6)
        |         AS gap_break_rate
        |FROM rows_t ORDER BY threshold_s""".stripMargin
    }),
    QueryDef("q180_interarrival", q180InterArrival _,
      """WITH seq AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |               PARTITION BY user_id, event_type
        |               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           AS delta_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |       round((CAST(sum(delta_us) AS DOUBLE) / count(*)) / 1e6, 6)
        |         AS mean_s,
        |       round(quantile_cont(CAST(delta_us AS DOUBLE), 0.5) / 1e6, 6)
        |         AS p50_s,
        |       round(quantile_cont(CAST(delta_us AS DOUBLE), 0.9) / 1e6, 6)
        |         AS p90_s
        |FROM seq WHERE delta_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q212_lateness_profile", q212LatenessProfile _,
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |lat AS (
        |  SELECT event_type,
        |         max(us) OVER (PARTITION BY event_type ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - us AS late_us
        |  FROM ev),
        |agg AS (
        |  SELECT event_type, count(*) AS n_events,
        |         CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_late,
        |         quantile_cont(CAST(late_us AS DOUBLE), 0.5) AS p50_us,
        |         quantile_cont(CAST(late_us AS DOUBLE), 0.95) AS p95_us,
        |         quantile_cont(CAST(late_us AS DOUBLE), 0.99) AS p99_us,
        |         CAST(max(late_us) AS BIGINT) AS max_us
        |  FROM lat GROUP BY 1)
        |SELECT event_type, n_events, n_late,
        |       round(CAST(n_late AS DOUBLE) / n_events, 6) AS late_frac,
        |       round(p50_us / 1e6, 3) AS p50_late_s,
        |       round(p95_us / 1e6, 3) AS p95_late_s,
        |       CAST(max_us // 1000000 AS BIGINT) AS max_late_s,
        |       CAST(ceil(p99_us / 1e6) AS BIGINT) AS wm_suggest_s
        |FROM agg ORDER BY event_type""".stripMargin),
    QueryDef("q182_active_users", q182ActiveUsers _,
      s"""WITH du AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |bounds AS (SELECT min(d) AS d0, max(d) AS dmax FROM du),
        |spine AS (
        |  SELECT CAST(unnest(generate_series((SELECT d0 FROM bounds),
        |    (SELECT dmax FROM bounds), INTERVAL 1 DAY)) AS DATE) AS day),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY d),
        |contrib AS (
        |  SELECT user_id, d + CAST(o.off AS INTEGER) AS target_d
        |  FROM du CROSS JOIN
        |    (SELECT unnest(range(0, $WauDays)) AS off) o),
        |wau AS (SELECT target_d, count(DISTINCT user_id) AS wau
        |        FROM contrib GROUP BY target_d)
        |SELECT s.day,
        |       COALESCE(dau.dau, 0) AS dau,
        |       COALESCE(wau.wau, 0) AS wau,
        |       round(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / wau.wau, 6)
        |         AS stickiness
        |FROM spine s
        |LEFT JOIN dau ON dau.d = s.day
        |LEFT JOIN wau ON wau.target_d = s.day
        |ORDER BY s.day""".stripMargin),
    QueryDef("q188_conversion_lag", q188ConversionLag _,
      s"""WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |signups AS (
        |  SELECT user_id, min(us) AS s_us FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |first_purchase AS (
        |  SELECT e.user_id, min(e.us) AS p_us, min(s.s_us) AS s_us
        |  FROM ev e JOIN signups s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= s.s_us
        |  GROUP BY e.user_id),
        |lags AS (
        |  SELECT s.user_id,
        |         CASE WHEN fp.user_id IS NULL THEN $NeverBucket
        |              ELSE least((fp.p_us - fp.s_us) // 86400000000,
        |                         $MaxLagDays) END AS lag_days
        |  FROM signups s
        |  LEFT JOIN first_purchase fp ON fp.user_id = s.user_id)
        |SELECT lag_days, count(*) AS n_users
        |FROM lags GROUP BY lag_days ORDER BY lag_days""".stripMargin),
    QueryDef("q189_ltv_curve", q189LtvCurve _,
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM ev),
        |cohorts AS (
        |  SELECT user_id,
        |         (min(day) - (SELECT d0 FROM d0)) // 7 AS cohort_w,
        |         min(day) AS first_day
        |  FROM ev GROUP BY user_id),
        |sizes AS (SELECT cohort_w, count(*) AS cohort_users
        |          FROM cohorts GROUP BY cohort_w),
        |revenue AS (
        |  SELECT c.cohort_w, (e.day - c.first_day) // 7 AS age_w,
        |         CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM ev e JOIN cohorts c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_w, age_w, cents,
        |         CAST(sum(cents) OVER (PARTITION BY cohort_w ORDER BY age_w
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cum_cents
        |  FROM revenue)
        |SELECT c.cohort_w, c.age_w, s.cohort_users, c.cents, c.cum_cents,
        |       round(CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0, 6)
        |         AS ltv_per_user
        |FROM cum c JOIN sizes s ON s.cohort_w = c.cohort_w
        |ORDER BY c.cohort_w, c.age_w""".stripMargin),
    QueryDef("q95_sequence_match", q95SequenceMatch _,
      """WITH seqs AS (
        |  SELECT user_id,
        |         ',' || string_agg(event_type, ','
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) || ',' AS seq,
        |         count(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |       regexp_matches(seq, ',view,(.*,)?purchase,')
        |         AS has_conversion,
        |       CAST(len(regexp_extract_all(replace(seq, ',', ',,'),
        |                                   ',view,,purchase,')) AS INT)
        |         AS n_adjacent_conv
        |FROM seqs ORDER BY user_id""".stripMargin),
    QueryDef("q82_funnel", q82Funnel _,
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
        |  GROUP BY e.user_id),
        |steps AS (
        |  SELECT '1_view' AS step, count(*) AS n_users FROM v
        |  UNION ALL SELECT '2_click', count(*) FROM c
        |  UNION ALL SELECT '3_purchase', count(*) FROM p)
        |SELECT step, n_users,
        |       round(CAST(n_users AS DOUBLE) /
        |             lag(n_users) OVER (ORDER BY step), 4) AS conv_from_prev
        |FROM steps ORDER BY step""".stripMargin),
    QueryDef("q83_cohort_retention", q83CohortRetention _,
      """WITH firstseen AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE)
        |           AS cohort_week
        |  FROM events GROUP BY user_id)
        |SELECT f.cohort_week,
        |       CAST(date_diff('day', f.cohort_week,
        |              CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS DATE))
        |            // 7 AS INT) AS week_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN firstseen f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q84_transition_matrix", q84TransitionMatrix _,
      """WITH pairs AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
        |  FROM events),
        |counts AS (
        |  SELECT event_type, next_type, count(*) AS n
        |  FROM pairs WHERE next_type IS NOT NULL
        |  GROUP BY event_type, next_type)
        |SELECT event_type, next_type, n,
        |       round(CAST(n AS DOUBLE) /
        |             sum(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM counts ORDER BY event_type, next_type""".stripMargin),
    QueryDef("q191_journey_mining", q191JourneyMining _,
      s"""WITH ranked AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           AS rn
        |  FROM events),
        |journeys AS (
        |  SELECT user_id,
        |         string_agg(event_type, '>' ORDER BY rn) AS journey
        |  FROM ranked WHERE rn <= $JourneyDepth
        |  GROUP BY user_id)
        |SELECT journey, count(*) AS n_users
        |FROM journeys GROUP BY journey
        |ORDER BY n_users DESC, journey""".stripMargin),
    QueryDef("q349_cohort_retention", q349CohortRetention _,
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |uw AS (SELECT DISTINCT user_id,
        |              date_diff('day', (SELECT d0 FROM d0), d) // 7 AS week
        |       FROM ev),
        |coh AS (SELECT user_id, min(week) AS cohort_week
        |        FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS cohort_size
        |          FROM coh GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |       round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6)
        |         AS retention
        |FROM uw u JOIN coh c ON u.user_id = c.user_id
        |JOIN sizes s ON s.cohort_week = c.cohort_week
        |GROUP BY 1, 2, s.cohort_size
        |ORDER BY 1, 2""".stripMargin),
    QueryDef("q359_ltv_curve", q359LtvCurve _,
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |base AS (
        |  SELECT user_id,
        |         date_diff('day', (SELECT d0 FROM d0), d) // 7 AS week,
        |         cents
        |  FROM ev),
        |coh AS (SELECT user_id, min(week) AS cohort_week
        |        FROM base GROUP BY 1),
        |mx AS (SELECT max(week) AS max_week FROM base),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT)
        |            AS cohort_size FROM coh GROUP BY 1),
        |by_k AS (
        |  SELECT b.week - c.cohort_week AS k,
        |         CAST(sum(b.cents) AS BIGINT) AS cents,
        |         CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_active
        |  FROM base b JOIN coh c ON c.user_id = b.user_id
        |  GROUP BY 1),
        |at_risk AS (
        |  SELECT t.k, CAST(sum(s.cohort_size) AS BIGINT) AS n_obs
        |  FROM (SELECT DISTINCT k FROM by_k) t
        |  JOIN sizes s ON s.cohort_week + t.k <= (SELECT max_week FROM mx)
        |  GROUP BY 1),
        |per_k AS (
        |  SELECT b.k, a.n_obs, b.n_active, b.cents,
        |         CAST(round(b.cents * 10000 / a.n_obs, 0) AS BIGINT)
        |           AS incr_micro
        |  FROM by_k b JOIN at_risk a ON a.k = b.k)
        |SELECT k AS week_offset, n_obs, n_active,
        |       cents AS revenue_cents,
        |       round(CAST(incr_micro AS DOUBLE) / 1e6, 6) AS incr_dollars,
        |       round(CAST(sum(incr_micro) OVER (ORDER BY k
        |           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6, 6)
        |         AS ltv_dollars
        |FROM per_k ORDER BY week_offset""".stripMargin))
}
