package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] third wave of operator breadth: the event-analytics patterns a
  * warehouse team runs daily on top of the reference's star schema —
  * slowly-changing-dimension history (SCD2), gap-based sessionization,
  * funnel conversion, cohort retention, Markov transition matrices, and
  * equal-width histograms. All are single-pass window/aggregate plans
  * (no self-joins, no driver loops): at 100 TB each is one shuffle on
  * its natural key (customer / user) followed by narrow window state.
  *
  * Reference anchor: these generalize the reference's quarterly trend
  * analytics (`AnalyzeData.ChatterjeeP.Rmd:63-68`) from calendar
  * bucketing to entity-history bucketing; the SCD2 build is the
  * principled version of the reference's overwrite-only dimension load
  * (`LoadXML2DB.ChatterjeeP.R:88,146-147` keeps no history at all).
  */
object Breadth3 {

  /** q80 — SCD2 dimension history: collapse each customer's order-priority
    * timeline into validity ranges (valid_from / valid_to / is_current).
    * One window pass marks change points, a cumulative sum numbers the
    * versions, one aggregate collapses them — the standard
    * change-data-capture shape. Partitioned by custkey: at 100 TB this is
    * one hash shuffle and per-key sorted state, no self-join. */
  def q80Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("custkey").orderBy("ts", "o_orderkey")
    val versioned = Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("ts"), col("o_orderkey"))
      .withColumn("prev", lag(col("priority"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("priority"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
    val vers = versioned.groupBy("custkey", "version")
      .agg(min(col("priority")).as("priority"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val wv = Window.partitionBy("custkey").orderBy("version")
    vers
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .select(col("custkey"), col("version"), col("priority"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_orders"))
      .orderBy("custkey", "version")
  }

  /** q128 — SCD2 point-in-time attach: join each fact row to the
    * dimension version that was valid WHEN THE FACT HAPPENED — the
    * composition that makes SCD2 history (q80) useful, and the one
    * that silently leaks future attributes when done with a plain
    * latest-version join. Expressed as the native as-of join
    * ([[graft.plans.AsofJoin]]): one clustered shuffle + sort per
    * side and an O(1)-state streaming merge, instead of the range
    * join (valid_from <= ts < valid_to) whose interval predicate
    * Spark would plan as a pairwise blowup. Version starts are
    * deduped to end-of-day state (max version per (custkey, date)) so
    * the as-of match is unique and deterministic in both engines.
    * Output: per customer, how many orders attach to a version whose
    * priority matches the order's own (same-date priority flips
    * legitimately attach to the end-of-day version, so consistency is
    * high but not vacuously 100%). */
  def q128Scd2PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val hist = q80Scd2History(spark, dir)
      .groupBy(col("custkey").as("h_custkey"), col("valid_from"))
      .agg(max(struct(col("version"), col("priority"))).as("v"))
      .select(col("h_custkey"), col("valid_from"),
        col("v.version").as("pit_version"),
        col("v.priority").as("pit_priority"))
    val facts = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey").as("custkey"),
      col("o_orderdate"), col("o_orderpriority"))
    graft.plans.AsofJoin.asofJoin(facts, hist,
        Seq("custkey"), Seq("h_custkey"), "o_orderdate", "valid_from")
      .groupBy("custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum((col("pit_priority") === col("o_orderpriority")).cast("long"))
          .as("n_pit_consistent"),
        max(col("pit_version")).as("max_version"))
      .orderBy("custkey")
  }

  /** q81 — gap-based sessionization in batch: a new session starts after
    * >30 min of inactivity. lag + cumulative-sum islands — the batch
    * equivalent of q46's `session_window`, and the shape that scales:
    * shuffle once on user_id, then per-user sorted window state. */
  def q81SessionizeGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
          1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .withColumn("duration_sec", expr(
        "(unix_micros(session_end) - unix_micros(session_start)) div 1000000"))
      .orderBy("user_id", "session_idx")
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
      .withColumn("conv_from_prev", round(
        col("n_users").cast("double") /
          lag(col("n_users"), 1).over(Window.orderBy("step")), 4))
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

  /** q92 — Count-Min frequency sketch (A5 family, alongside q49's HLL
    * and q72's KLL): per-type event counts estimated from a mergeable
    * CMS built in one distributed pass (`stat.countMinSketch` merges
    * per-partition sketches), probed via a closure over the tiny sketch.
    * Like q49/q72 the oracle checks the ACCURACY CONTRACT: CMS never
    * undercounts, and overshoot is bounded by 2*eps*N (eps = 0.001 gives
    * width 2719, so 5 distinct keys collide with ~nothing). At 100 TB
    * the sketch is the servable artifact: KBs per column, mergeable
    * across partitions/days, answering point frequency queries without
    * rescanning the corpus. */
  def q92CountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val eps = 0.001
    val sketch = ev.stat.countMinSketch("event_type", eps, 0.99, 42)
    // probe via the codegen graft_cms_estimate expression (the
    // graft_bloom_contains discipline — serialized sketch as a binary
    // literal, per-row probe inside WholeStageCodegen, no boxed UDF;
    // VERDICT r09 #9). A null key can't live in the sketch; the
    // expression propagates null and within_bound folds the null group
    // explicitly via the isNull disjunct.
    val sketchBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val w = Window.partitionBy()
    Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      .withColumn("total_n", sum(col("exact_n")).over(w))
      .withColumn("est_n", call_function("graft_cms_estimate",
        lit(sketchBytes), col("event_type")))
      .select(col("event_type"), col("exact_n"),
        (col("event_type").isNull ||
          (col("est_n") >= col("exact_n") &&
            (col("est_n") - col("exact_n")).cast("double") <=
              lit(2 * eps) * col("total_n"))).as("within_bound"))
      .orderBy("event_type")
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

  /** q100 — mergeable HLL sketch export + union: per-(type, day) user
    * sketches built once (`hll_sketch_agg`, the storable artifact an
    * incremental pipeline persists per partition), then merged across
    * days (`hll_union_agg`) and estimated — distinct-count rollup
    * WITHOUT rescanning history, the A5 "mergeable exported sketch"
    * path at 100 TB/day rates. Contract oracle like q49: the merged
    * estimate must land within 15% of the exact distinct count. */
  def q100HllUnion(spark: SparkSession, dir: String): DataFrame = {
    // one checkpointed 3-column projection feeds both the sketch build
    // and the exact ground truth (no second events scan)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
      .localCheckpoint()
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    // count(col) skips a null-day group, matching the oracle's
    // count(DISTINCT date); the contract is vacuously true when the
    // exact count is 0 (all-null users), instead of dividing by zero
    val merged = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(col("day")).as("n_day_sketches"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_day_sketches"), col("exact_users"),
        (col("exact_users") === 0 ||
          abs(col("est") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.15).as("merged_within_15pct"))
      .orderBy("event_type")
  }

  /** q105 — mergeable frequency-sketch top-k (the A5 family's heavy-
    * hitters member, alongside q100's HLL and q92's CMS): per-day
    * `approx_top_k_accumulate` sketches — the storable per-partition
    * artifact — merged across days with `approx_top_k_combine` and read
    * out with `approx_top_k_estimate`, so an incremental pipeline gets
    * corpus-wide heavy hitters WITHOUT rescanning history. While the
    * column's distinct cardinality stays under the sketch's tracked
    * capacity (default 10000) the merged counts are exact, which is what
    * makes the group-count oracle a hash-exact check; past capacity the
    * same plan degrades gracefully to approximate heavy hitters. The
    * top-10 cut is NOT taken from the sketch's internal order: the
    * estimate reads out the full tracked set (k = capacity) and the cut
    * is a deterministic (count desc, item) sort + limit applied
    * identically in the oracle — a sketch-side k would make boundary
    * ties engine-dependent (code-review r04). */
  def q105TopkSketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("day")
      .agg(expr("approx_top_k_accumulate(event_type)").as("sk"))
    daily
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 10000)")
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("event_type"), col("t.count").as("est_count"))
      .orderBy(desc("est_count"), asc("event_type"))
      .limit(10)
  }

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

  val defs: Seq[QueryDef] = Seq(
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
    QueryDef("q105_topk_sketch_union", q105TopkSketchUnion _,
      """SELECT event_type, count(*) AS est_count
        |FROM events GROUP BY 1
        |ORDER BY est_count DESC, event_type
        |LIMIT 10""".stripMargin),
    QueryDef("q100_hll_union", q100HllUnion _,
      """SELECT event_type,
        |       count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
        |         AS n_day_sketches,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS merged_within_15pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
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
        |SELECT * FROM cols ORDER BY column_name""".stripMargin),
    QueryDef("q92_count_min", q92CountMin _,
      """SELECT event_type, count(*) AS exact_n, TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
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
    QueryDef("q80_scd2_history", q80Scd2History _,
      """WITH base AS (
        |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
        |         o_orderdate AS ts, o_orderkey
        |  FROM orders),
        |marked AS (
        |  SELECT *, CASE WHEN lag(priority) OVER w IS NULL
        |                   OR lag(priority) OVER w <> priority
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM base WINDOW w AS (PARTITION BY custkey ORDER BY ts, o_orderkey)),
        |versioned AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY custkey
        |              ORDER BY ts, o_orderkey ROWS UNBOUNDED PRECEDING)
        |            AS INT) AS version
        |  FROM marked),
        |vers AS (
        |  SELECT custkey, version, min(priority) AS priority,
        |         min(ts) AS valid_from, count(*) AS n_orders
        |  FROM versioned GROUP BY custkey, version)
        |SELECT custkey, version, priority, valid_from,
        |       lead(valid_from) OVER w2 AS valid_to,
        |       (lead(valid_from) OVER w2 IS NULL) AS is_current,
        |       n_orders
        |FROM vers WINDOW w2 AS (PARTITION BY custkey ORDER BY version)
        |ORDER BY custkey, version""".stripMargin),
    // q80's version chain, end-of-day deduped, attached point-in-time
    // via DuckDB's real ASOF JOIN (unique match per fact by
    // construction, so both engines are deterministic)
    QueryDef("q128_scd2_pit_join", q128Scd2PitJoin _,
      """WITH base AS (
        |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
        |         o_orderdate AS ts, o_orderkey
        |  FROM orders),
        |marked AS (
        |  SELECT *, CASE WHEN lag(priority) OVER w IS NULL
        |                   OR lag(priority) OVER w <> priority
        |                 THEN 1 ELSE 0 END AS chg
        |  FROM base WINDOW w AS (PARTITION BY custkey ORDER BY ts, o_orderkey)),
        |versioned AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY custkey
        |              ORDER BY ts, o_orderkey ROWS UNBOUNDED PRECEDING)
        |            AS INT) AS version
        |  FROM marked),
        |vers AS (
        |  SELECT custkey, version, min(priority) AS priority,
        |         min(ts) AS valid_from
        |  FROM versioned GROUP BY custkey, version),
        |ranked AS (
        |  SELECT custkey AS h_custkey, valid_from, version AS pit_version,
        |         priority AS pit_priority,
        |         row_number() OVER (PARTITION BY custkey, valid_from
        |                            ORDER BY version DESC) AS rn
        |  FROM vers),
        |h2 AS (SELECT h_custkey, valid_from, pit_version, pit_priority
        |       FROM ranked WHERE rn = 1),
        |facts AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_orderdate,
        |         o_orderpriority
        |  FROM orders)
        |SELECT f.custkey, count(*) AS n_orders,
        |       CAST(sum(CASE WHEN h.pit_priority = f.o_orderpriority
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pit_consistent,
        |       CAST(max(h.pit_version) AS INT) AS max_version
        |FROM facts f ASOF LEFT JOIN h2 h
        |  ON f.custkey = h.h_custkey AND h.valid_from <= f.o_orderdate
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q81_sessionize_gaps", q81SessionizeGaps _,
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |                OR epoch_us(CAST(ts AS TIMESTAMP))
        |                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
        |                   > 1800 * 1000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sessions AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
        |              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |            AS INT) AS session_idx
        |  FROM marked)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),
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
        |GROUP BY 1 ORDER BY 1""".stripMargin))
}
