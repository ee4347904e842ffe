package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] experimentation analytics (q165): deterministic A/B arm
  * assignment + Welch's two-sample t statistic per metric — the
  * statistical-inference operator family (the warehouse "is the
  * treatment moving the metric?" primitive) the engine did not yet
  * cover.
  *
  * Determinism discipline, twice over:
  *   - ARM ASSIGNMENT is a hash race on user_id (the q97/q112
  *     never-rand() rule): the same user lands in the same arm in both
  *     engines, under repartitioning, and on re-runs — which is also
  *     the PRODUCT requirement (sticky bucketing).
  *   - THE STATISTIC is computed from exact integer sufficient
  *     statistics: per (metric, arm) the engine folds only
  *     (n, Σcents, Σcents²) — BIGINT sums, order-free, sub-2^53 — and
  *     the t value is ONE fixed arithmetic expression over those six
  *     integers. Both engines evaluate the identical expression tree
  *     on identical integers; each IEEE operation (incl. sqrt) is
  *     correctly rounded, so the doubles match bit-for-bit — no
  *     variance built-in (var_samp's internal fold order is not
  *     portable) is ever used.
  *
  * Scale: one conditional aggregate over the scan — sufficient
  * statistics ARE the map-side combine; the t arithmetic runs on
  * |metrics| rows. This is the textbook reason experimentation
  * platforms store (n, Σx, Σx²) per arm and nothing else.
  *
  * Also here: Neyman-optimal stratified allocation (q364) and the
  * log-rank two-sample survival test (q365).
  */
object Experiment {

  /** q165's arm fold, shared with q280: per event type, the exact
    * (n, Σx, Σx²) of value cents in each user-hash arm — na/sa/qa for
    * arm A, nb/sb/qb for arm B ([[armSums]], which q308 folds too). */
  private def armStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy("event_type").agg(armSums.head, armSums.tail: _*)

  /** The six exact arm sums over an `in_a` flag and `cents`. */
  private def armSums: Seq[Column] = Seq(
    sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
    sum(when(col("in_a"), col("cents")).otherwise(0L)).as("sa"),
    sum(when(col("in_a"), col("cents") * col("cents")).otherwise(0L)).as("qa"),
    sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"),
    sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("sb"),
    sum(when(!col("in_a"), col("cents") * col("cents")).otherwise(0L)).as("qb"))

  /** Arm means and sample variances (ma, mb, va, vb) from exact arm
    * sums: ONE fixed expression tree over the six integers — identical
    * in the oracle, hence bit-identical doubles (every IEEE op incl.
    * sqrt is correctly rounded). */
  private def armMoments(na: Column, sa: Column, qa: Column,
      nb: Column, sb: Column, qb: Column): (Column, Column, Column, Column) = {
    val ma = sa.cast("double") / na
    val mb = sb.cast("double") / nb
    (ma, mb, (qa.cast("double") - sa.cast("double") * ma) / (na - 1),
      (qb.cast("double") - sb.cast("double") * mb) / (nb - 1))
  }

  /** q165 — per event type: arm sizes, mean value per arm (exact cents
    * → rounded display), Welch t, and the |t| > 1.96 verdict. Arms are
    * user_id-hash split ~50/50; on this synthetic stream the metric is
    * arm-independent, so verdicts read not_significant — the monitor's
    * steady state (the spec drives a true-effect branch). */
  def q165AbWelch(spark: SparkSession, dir: String): DataFrame = {
    val stats = armStats(spark, dir)
    val (ma, mb, va, vb) = armMoments(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb"))
    val t = (ma - mb) / sqrt(va / col("na") + vb / col("nb"))
    stats.select(col("event_type"), col("na"), col("nb"),
        round(ma / 100, 4).as("mean_a"),
        round(mb / 100, 4).as("mean_b"),
        round(t, 6).as("t_welch"),
        when(abs(t) > 1.96, lit("significant"))
          .otherwise(lit("not_significant")).as("verdict"))
      .orderBy("event_type")
  }

  /** q248 — PLACEBO DIFFERENCE-IN-DIFFERENCES: the panel causal
    * estimator (two groups × two periods),
    *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre),
    * run as an A/A placebo — "treatment" is a hash parity (no real
    * intervention exists in the synthetic stream), so the estimate
    * SHOULD read ≈ 0 and the operator doubles as the parallel-trends
    * sanity check an experimenter runs before trusting any real DiD
    * (q165 compares two groups at one time; q167 adjusts variance
    * with a covariate; DiD is the shape that nets out GROUP-constant
    * and TIME-constant confounders at once). Periods split at the
    * data-derived midpoint (q151); the panel unit is user × period
    * spend.
    *
    * Exactness: cell sums fold exact cents; each cell mean is one
    * division; the DiD combination is four such doubles in one fixed
    * expression — identical op shapes cross-engine.
    *
    * Scale shape: one (user, period) fold of the scan, then a 4-row
    * (group × period) cell table; the report is those 4 rows with the
    * repeated estimate (the q201/q208 totals shape). */
  def q248DiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val panel = ev.crossJoin(broadcast(cut))
      .select(col("user_id"),
        when(col("us") < col("cut"), lit("pre")).otherwise(lit("post"))
          .as("period"),
        col("cents"))
      .groupBy("user_id", "period")
      .agg(sum(col("cents")).as("cents"))
      .withColumn("grp",
        when(pmod(Hashing.md5Hash60(concat(lit("did:"),
          col("user_id").cast("string"))), lit(2)) === 0,
          lit("treat")).otherwise(lit("control")))
    val cells = panel.groupBy("grp", "period")
      .agg(count(lit(1)).as("n_units"), sum(col("cents")).as("cents"))
      .withColumn("mean_cents",
        col("cents").cast("double") / col("n_units").cast("double"))
    val wide = cells.groupBy()
      .pivot(concat(col("grp"), lit("_"), col("period")),
        Seq("treat_pre", "treat_post", "control_pre", "control_post"))
      .agg(first(col("mean_cents")))
      .select(((col("treat_post") - col("treat_pre")) -
        (col("control_post") - col("control_pre"))).as("did_cents"))
    cells.crossJoin(broadcast(wide))
      .select(col("grp"), col("period"), col("n_units"),
        round(col("mean_cents") / 100.0, 4).as("mean_spend"),
        round(col("did_cents") / 100.0, 4).as("did_spend"))
      .orderBy("grp", "period")
  }

  /** q251 — BROWN–FORSYTHE spread-change test: per event type, did
    * the VARIABILITY of event value change between the two time
    * halves? (q151/q234 test the distribution, q165 the mean — none
    * isolates scale.) BF = Welch's t on the absolute deviations from
    * each half's MEDIAN — the robust variance-equality test (mean-
    * centered Levene is wrecked by the same outliers q176 hunts).
    *
    * Exactness: cents are exact; each half's median of BIGINTs is k
    * or k.5 — so |cents − med| is an exact multiple of 0.5 and
    * z = 2·|cents − med| folds as an EXACT BIGINT (no quantization
    * loss at all); the Welch expression is the q165 fixed tree over
    * six exact integers. Verdict at |t| > 1.96 on the rounded t.
    *
    * Scale shape: one conditional fold of the scan per type; the two
    * medians are a (types × 2)-row broadcast profile. The exact
    * median is the test-scale arm (approx_percentile the 100 TB
    * drop-in, q176). */
  def q251BrownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val flagged = ev.crossJoin(broadcast(cut))
      .select(col("event_type"), (col("us") < col("cut")).as("is_ref"),
        col("cents"))
    val meds = flagged.groupBy("event_type", "is_ref")
      .agg(expr("percentile(cents, 0.5d)").as("med"))
    val z = flagged.join(broadcast(meds), Seq("event_type", "is_ref"))
      .select(col("event_type"), col("is_ref"),
        expr("cast(round(abs(cents - med) * 2, 0) as bigint)").as("z2"))
    val stats = z.groupBy("event_type")
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("na"),
        sum(when(col("is_ref"), col("z2")).otherwise(0L)).as("sa"),
        sum(when(col("is_ref"), col("z2") * col("z2")).otherwise(0L))
          .as("qa"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("is_ref"), col("z2")).otherwise(0L)).as("sb"),
        sum(when(!col("is_ref"), col("z2") * col("z2")).otherwise(0L))
          .as("qb"))
    val (ma, mb, va, vb) = armMoments(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb"))
    val t = (ma - mb) / sqrt(va / col("na") + vb / col("nb"))
    stats.select(col("event_type"), col("na").as("n_ref"),
        col("nb").as("n_cur"),
        round(ma / 200, 4).as("mean_absdev_ref"),
        round(mb / 200, 4).as("mean_absdev_cur"),
        round(t, 6).as("t_bf"),
        when(abs(t) > 1.96, lit("spread_changed"))
          .otherwise(lit("spread_stable")).as("verdict"))
      .orderBy("event_type")
  }

  /** q253 — POISSON RATE-CHANGE test (conditional binomial form): per
    * event type, did the event RATE change between the two time
    * halves? Under H0 (constant rate), the first-half count given the
    * total is Binomial(n, p0) with p0 = T1/(T1+T2) the exposure
    * share, so z = (c1 − n·p0)/√(n·p0·(1−p0)) — the COUNT-side
    * member of the test family (q165 mean, q251 spread, q234 shape,
    * q236 trend: none tests arrival intensity). The conditional form
    * needs no rate estimate and no log.
    *
    * Exactness: counts and exposure micros are exact integers; p0 is
    * ONE division; z one fixed expression tree. Verdict |z| > 1.96 on
    * the rounded z.
    *
    * Scale shape: one conditional-count fold of the scan; the
    * exposure scalars ride the same broadcast cut row. */
  def q253RateChange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      .withColumn("cut", expr("(t0 + t1) div 2"))
    val counts = ev.crossJoin(broadcast(bounds))
      .groupBy("event_type")
      .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("c2"),
        max(col("cut") - col("t0")).as("exp1"),
        max(col("t1") - col("cut") + 1L).as("exp2"))
    val p0 = col("exp1").cast("double") /
      (col("exp1") + col("exp2")).cast("double")
    val n = col("c1") + col("c2")
    val z = (col("c1").cast("double") - n.cast("double") * p0) /
      sqrt(n.cast("double") * p0 * (lit(1.0) - p0))
    counts.select(col("event_type"), col("c1"), col("c2"),
        round(n.cast("double") * p0, 2).as("expected_c1"),
        round(z, 6).as("z"),
        when(abs(z) > 1.96, lit("rate_changed"))
          .otherwise(lit("rate_stable")).as("verdict"))
      .orderBy("event_type")
  }

  /** q280 pinned normal quantiles: z_{α/2} at α = 0.05 and z_β at
    * 80% power, micro-rounded literals (the Benford6 discipline —
    * Φ⁻¹ is not a blessed function, so both engines read the same
    * constants). */
  private[graft] val ZAlpha6 = 1.959964
  private[graft] val ZBeta6 = 0.841621
  /** The combined (z_{α/2} + z_β) factor, pinned as ONE literal so
    * both engines parse the identical constant. */
  private[graft] val ZSum6 = 2.801585

  /** q280 — A/B POWER AUDIT (minimal detectable effect): for each
    * event type, the smallest true mean difference the RUNNING q165
    * experiment could detect at α = 0.05 with 80% power, given its
    * actual arm sizes and variances — the DESIGN companion to q165's
    * verdict: "not significant" is only meaningful next to "and the
    * MDE was X" (an underpowered experiment's null read is noise, not
    * evidence). MDE = (z_{α/2} + z_β)·√(s²_a/n_a + s²_b/n_b), the
    * two-sample z form on the same exact sufficient statistics q165
    * folds (n, Σx, Σx² per arm — nothing else touches the scan).
    *
    * Exactness: one fixed expression tree over the six exact BIGINTs
    * with pinned z literals; √ and every IEEE op correctly rounded,
    * mirrored verbatim (the q165 discipline). */
  def q280AbPower(spark: SparkSession, dir: String): DataFrame = {
    val stats = armStats(spark, dir)
    val (ma, _, va, vb) = armMoments(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb"))
    val mde = lit(ZSum6) * sqrt(va / col("na") + vb / col("nb"))
    stats.select(col("event_type"), col("na"), col("nb"),
        round(ma / 100, 4).as("mean_a"),
        round(mde / 100, 4).as("mde_abs"),
        round(mde / ma, 6).as("mde_rel"))
      .orderBy("event_type")
  }

  /** q287 — SEQUENTIAL-PEEKING AUDIT of the q165 experiment: replay
    * the running A/B test day by day (cumulative Welch z per event
    * type after each day) and record when a naive analyst peeking at
    * every close with the fixed 1.96 threshold would FIRST have
    * declared significance — against the experiment's actual final
    * verdict. A type with an early naive stop but a null final read is
    * the textbook repeated-testing false positive (the α the q280
    * power audit assumes is only honest for ONE look); `days_over`
    * counts how many interim looks crossed. The governance companion
    * to q165/q280: verdict, power, and now peeking discipline.
    *
    * Exactness: daily increments fold to exact BIGINTs (n, Σx, Σx²
    * per arm per day), cumulative sums are integer window folds over
    * the (type, day) PROFILE (enum × calendar grain — never the fact
    * table), and every z is the same fixed double expression both
    * engines form from identical exact integers, so the 1.96
    * comparisons are deterministic (the q165 discipline). A day is
    * evaluable once both arms hold ≥ 2 events and the variance term
    * is positive; final stats recompute from the grand totals (equal
    * to the last cumulative row by construction). */
  def q287PeekingAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val daily = ev.groupBy("event_type", "day")
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("dna"),
        sum(when(col("in_a"), col("cents")).otherwise(0L)).as("dsa"),
        sum(when(col("in_a"), col("cents") * col("cents")).otherwise(0L))
          .as("dqa"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("dnb"),
        sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("dsb"),
        sum(when(!col("in_a"), col("cents") * col("cents")).otherwise(0L))
          .as("dqb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    val cum = daily.select(col("event_type"), col("day"),
      row_number().over(w).as("idx"),
      sum("dna").over(w).as("na"), sum("dsa").over(w).as("sa"),
      sum("dqa").over(w).as("qa"),
      sum("dnb").over(w).as("nb"), sum("dsb").over(w).as("sb"),
      sum("dqb").over(w).as("qb"))
    def z(na: Column, sa: Column, qa: Column,
        nb: Column, sb: Column, qb: Column): Column = {
      val (ma, mb, va, vb) = armMoments(na, sa, qa, nb, sb, qb)
      val denom = va / na + vb / nb
      when(na >= 2 && nb >= 2 && denom > 0, (ma - mb) / sqrt(denom))
    }
    val zd = cum.withColumn("z", z(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb")))
      .withColumn("over", col("z").isNotNull && abs(col("z")) > 1.96)
    val interim = zd.groupBy("event_type")
      .agg(max("idx").as("n_days"),
        min(when(col("over"), col("idx"))).as("first_stop_idx"),
        sum(when(col("over"), 1L).otherwise(0L)).as("days_over"))
    val fin = daily.groupBy("event_type")
      .agg(sum("dna").as("na"), sum("dsa").as("sa"), sum("dqa").as("qa"),
        sum("dnb").as("nb"), sum("dsb").as("sb"), sum("dqb").as("qb"))
      .select(col("event_type"),
        round(z(col("na"), col("sa"), col("qa"),
          col("nb"), col("sb"), col("qb")), 6).as("final_z"))
    interim.join(fin, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("first_stop_idx"),
        col("days_over"), col("final_z"),
        coalesce(abs(col("final_z")) > 1.96, lit(false))
          .as("final_significant"),
        (col("first_stop_idx").isNotNull &&
          !coalesce(abs(col("final_z")) > 1.96, lit(false)))
          .as("false_stop"))
      .orderBy("event_type")
  }

  /** q295 — WINSORIZED (robust) WELCH A/B READ: the q165 experiment
    * re-scored with each metric's values clamped to its pooled
    * [P5, P95] band before the t statistic — the standard robust
    * re-read that tells whether a verdict is carried by the
    * distribution's body or by a handful of tail events (a whale
    * purchase flipping "significant" is a decision hazard, not a
    * treatment effect). Reports the raw q165 t next to the winsorized
    * t and flags verdict flips. Complements q116 (winsorize as a
    * FEATURE transform) and q280 (power): trim bounds here are
    * decision inputs, not cleaning.
    *
    * Exactness: cents are exact; the clamp bounds are the
    * engine-identical exact interpolated percentiles (q151/q278
    * discipline); every clamped value micro-quantizes to BIGINT
    * before any cross-row fold (q169 discipline), with squares in
    * decimal(38)/HUGEINT (q274 rule); both t statistics are the q165
    * fixed double expression over exact sums, mirrored verbatim. */
  def q295WinsorizedWelch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val bounds = ev.groupBy("event_type")
      .agg(expr("percentile(cents, 0.05)").as("lo"),
        expr("percentile(cents, 0.95)").as("hi"))
    val clamped = ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("qw",
        round(least(greatest(col("cents").cast("double"), col("lo")),
          col("hi")) * lit(1000000d), 0).cast("long"))
    val stats = clamped.groupBy("event_type")
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("in_a"), col("cents")).otherwise(0L)).as("sa"),
        sum(when(col("in_a"),
          col("cents") * col("cents")).otherwise(0L)).as("qa"),
        sum(when(col("in_a"), col("qw")).otherwise(0L)).as("wa"),
        sum(when(col("in_a"), col("qw").cast("decimal(38,0)") * col("qw"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("va"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("sb"),
        sum(when(!col("in_a"),
          col("cents") * col("cents")).otherwise(0L)).as("qb"),
        sum(when(!col("in_a"), col("qw")).otherwise(0L)).as("wb"),
        sum(when(!col("in_a"), col("qw").cast("decimal(38,0)") * col("qw"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("vb"))
    def welch(na: Column, sa: Column, qa: Column,
        nb: Column, sb: Column, qb: Column): Column = {
      val (ma, mb, va, vb) = armMoments(na, sa, qa, nb, sb, qb)
      (ma - mb) / sqrt(va / na + vb / nb)
    }
    val tRaw = welch(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb"))
    val tW = welch(col("na"), col("wa"), col("va"),
      col("nb"), col("wb"), col("vb"))
    stats.select(col("event_type"), col("na"), col("nb"),
        round(col("wa").cast("double") / col("na") / 100000000d, 4)
          .as("mean_a_winsor"),
        round(tRaw, 6).as("t_raw"),
        round(tW, 6).as("t_winsor"),
        when(abs(tRaw) > 1.96, "significant").otherwise("not_significant")
          .as("verdict_raw"),
        when(abs(tW) > 1.96, "significant").otherwise("not_significant")
          .as("verdict_winsor"),
        ((abs(tRaw) > 1.96) =!= (abs(tW) > 1.96)).as("flipped"))
      .orderBy("event_type")
  }

  /** q308 pinned relative MDE target: plan for detecting a 2% lift on
    * the control mean. */
  private[graft] val TargetLift = 0.02

  /** q308 — EXPERIMENT DURATION PLANNER: q280 answers "what can the
    * running test detect?"; this answers the design question asked
    * BEFORE launch — "how long must it run to detect a
    * [[TargetLift]] lift?". Per event type, from the same exact
    * sufficient statistics: the required per-arm sample
    * n = (z_{α/2}+z_β)²·(s²_a+s²_b)/δ² at δ = [[TargetLift]]·mean_a,
    * converted to DAYS through each arm's observed daily accrual
    * rate, reporting the binding (slower) arm and whether the
    * already-observed window was long enough.
    *
    * Exactness: counts/sums/squares fold exactly (the q280 fold plus
    * one distinct-day count); every planning number is a fixed double
    * expression over them with pinned z and lift literals, mirrored
    * verbatim. */
  def q308DurationPlanner(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val stats = ev.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"), armSums: _*)
    val (ma, _, va, vb) = armMoments(col("na"), col("sa"), col("qa"),
      col("nb"), col("sb"), col("qb"))
    val delta = lit(TargetLift) * ma
    val nReq = lit(ZSum6) * lit(ZSum6) * (va + vb) / (delta * delta)
    val daysA = nReq * col("n_days") / col("na")
    val daysB = nReq * col("n_days") / col("nb")
    val daysNeeded = greatest(daysA, daysB)
    stats.select(col("event_type"), col("n_days"), col("na"), col("nb"),
        round(delta / 100, 4).as("target_delta"),
        round(nReq, 2).as("n_req_per_arm"),
        round(daysNeeded, 2).as("days_needed"),
        (daysNeeded <= col("n_days").cast("double")).as("already_enough"))
      .orderBy("event_type")
  }

  /** q318 — QUANTILE TREATMENT EFFECTS: per event type, the arm-A vs
    * arm-B value difference at each decile — the DISTRIBUTIONAL read
    * of the q165 experiment: a mean effect (q165) can hide a
    * tail-only treatment (q295's winsorized read hints at it; this
    * shows the whole profile: QTE flat = uniform shift, QTE rising in
    * p = the treatment moves the big spenders). Deciles 10%..90% per
    * (type, arm).
    *
    * Exactness: exact interpolated percentiles per (type, arm) over
    * exact cents (q278's discipline applied to the arm axis); each
    * QTE is one subtraction of the shared doubles, rounded once. */
  def q318QuantileEffects(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val probes = (1 to 9).map(_ / 10.0)
    val qs = ev.groupBy("event_type", "in_a")
      .agg(expr(s"percentile(cents, array(${probes.mkString(", ")}))")
        .as("q"))
    qs.select(col("event_type"), col("in_a"),
        posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy("event_type", "i")
      .agg(max(when(col("in_a"), col("qv"))).as("qa"),
        max(when(!col("in_a"), col("qv"))).as("qb"))
      .select(col("event_type"), ((col("i") + 1) * 10).as("probe_pct"),
        round(col("qa") / 100, 4).as("q_a"),
        round(col("qb") / 100, 4).as("q_b"),
        // + 0.0 normalizes tied quantiles' −0.0 (the q307 precedent)
        (round((col("qa") - col("qb")) / 100, 4) + lit(0.0)).as("qte"))
      .orderBy("event_type", "probe_pct")
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

  /** [[armStats]] as oracle CTEs: `stats` (event_type, na, sa, qa, nb,
    * sb, qb) over the user-hash arms `ev`; q165 and q280 read it. */
  private val armStatsCtes: String =
    """ev AS (
      |  SELECT event_type,
      |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
      |           % 2 = 0 AS in_a,
      |         CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |stats AS (
      |  SELECT event_type,
      |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |         CAST(sum(CASE WHEN in_a THEN cents ELSE 0 END) AS BIGINT) AS sa,
      |         CAST(sum(CASE WHEN in_a THEN cents * cents ELSE 0 END) AS BIGINT) AS qa,
      |         CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |         CAST(sum(CASE WHEN NOT in_a THEN cents ELSE 0 END) AS BIGINT) AS sb,
      |         CAST(sum(CASE WHEN NOT in_a THEN cents * cents ELSE 0 END) AS BIGINT) AS qb
      |  FROM ev GROUP BY 1)""".stripMargin

  /** q287's Welch z over (na, sa, qa, nb, sb, qb), NULL until both arms
    * hold two events and the variance term is positive: the oracle
    * twin of its `z`, read per day (`zd`) and on the totals (`finz`). */
  private val peekZ: String =
    """CASE WHEN na >= 2 AND nb >= 2 AND
      |                   (CAST(qa AS DOUBLE)
      |                    - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na))
      |                     / (na - 1) / na
      |                   + (CAST(qb AS DOUBLE)
      |                      - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb))
      |                       / (nb - 1) / nb > 0
      |              THEN (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
      |                   / sqrt((CAST(qa AS DOUBLE)
      |                           - CAST(sa AS DOUBLE)
      |                             * (CAST(sa AS DOUBLE) / na))
      |                            / (na - 1) / na
      |                          + (CAST(qb AS DOUBLE)
      |                             - CAST(sb AS DOUBLE)
      |                               * (CAST(sb AS DOUBLE) / nb))
      |                              / (nb - 1) / nb)
      |         END""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q318_quantile_effects", q318QuantileEffects _,
      """WITH ev AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |qs AS (
        |  SELECT event_type, in_a,
        |         quantile_cont(cents, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                               0.6, 0.7, 0.8, 0.9]) AS q
        |  FROM ev GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, i - 1 AS i,
        |         max(CASE WHEN in_a THEN q[i] END) AS qa,
        |         max(CASE WHEN NOT in_a THEN q[i] END) AS qb
        |  FROM qs CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i)
        |  GROUP BY 1, 2)
        |SELECT event_type, CAST((i + 1) * 10 AS INTEGER) AS probe_pct,
        |       round(qa / 100, 4) AS q_a,
        |       round(qb / 100, 4) AS q_b,
        |       round((qa - qb) / 100, 4) + 0.0 AS qte
        |FROM m ORDER BY event_type, probe_pct""".stripMargin),
    QueryDef("q308_duration_planner", q308DurationPlanner _,
      s"""WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |stats AS (
        |  SELECT event_type,
        |         CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS na,
        |         CAST(sum(CASE WHEN in_a THEN cents ELSE 0 END) AS BIGINT)
        |           AS sa,
        |         CAST(sum(CASE WHEN in_a THEN cents * cents ELSE 0 END)
        |           AS BIGINT) AS qa,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
        |           AS nb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents END) AS BIGINT)
        |           AS sb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents * cents END)
        |           AS BIGINT) AS qb
        |  FROM ev GROUP BY 1),
        |calc AS (
        |  SELECT event_type, n_days, na, nb,
        |         $TargetLift * (CAST(sa AS DOUBLE) / na) AS delta,
        |         $ZSum6 * $ZSum6
        |           * ((CAST(qa AS DOUBLE)
        |               - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na))
        |                / (na - 1)
        |              + (CAST(qb AS DOUBLE)
        |                 - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb))
        |                  / (nb - 1))
        |           / (($TargetLift * (CAST(sa AS DOUBLE) / na))
        |              * ($TargetLift * (CAST(sa AS DOUBLE) / na)))
        |           AS n_req
        |  FROM stats)
        |SELECT event_type, n_days, na, nb,
        |       round(delta / 100, 4) AS target_delta,
        |       round(n_req, 2) AS n_req_per_arm,
        |       round(greatest(n_req * n_days / na,
        |                      n_req * n_days / nb), 2) AS days_needed,
        |       greatest(n_req * n_days / na, n_req * n_days / nb)
        |         <= CAST(n_days AS DOUBLE) AS already_enough
        |FROM calc ORDER BY event_type""".stripMargin),
    QueryDef("q295_winsorized_welch", q295WinsorizedWelch _,
      """WITH ev AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |bounds AS (
        |  SELECT event_type, quantile_cont(cents, 0.05) AS lo,
        |         quantile_cont(cents, 0.95) AS hi
        |  FROM ev GROUP BY 1),
        |clamped AS (
        |  SELECT e.*,
        |         CAST(round(least(greatest(CAST(e.cents AS DOUBLE), b.lo),
        |                          b.hi) * 1000000, 0) AS BIGINT) AS qw
        |  FROM ev e JOIN bounds b USING (event_type)),
        |stats AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS na,
        |         CAST(sum(CASE WHEN in_a THEN cents ELSE 0 END) AS BIGINT)
        |           AS sa,
        |         CAST(sum(CASE WHEN in_a THEN cents * cents ELSE 0 END)
        |           AS BIGINT) AS qa,
        |         CAST(sum(CASE WHEN in_a THEN qw ELSE 0 END) AS BIGINT)
        |           AS wa,
        |         sum(CASE WHEN in_a THEN CAST(qw AS HUGEINT) * qw
        |                  ELSE 0 END) AS va,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
        |           AS nb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents END) AS BIGINT)
        |           AS sb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents * cents END)
        |           AS BIGINT) AS qb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE qw END) AS BIGINT)
        |           AS wb,
        |         sum(CASE WHEN in_a THEN 0
        |                  ELSE CAST(qw AS HUGEINT) * qw END) AS vb
        |  FROM clamped GROUP BY 1),
        |t AS (
        |  SELECT event_type, na, nb, wa,
        |         (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
        |         / sqrt((CAST(qa AS DOUBLE)
        |                 - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / na))
        |                  / (na - 1) / na
        |                + (CAST(qb AS DOUBLE)
        |                   - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / nb))
        |                    / (nb - 1) / nb) AS t_raw,
        |         (CAST(wa AS DOUBLE) / na - CAST(wb AS DOUBLE) / nb)
        |         / sqrt((CAST(va AS DOUBLE)
        |                 - CAST(wa AS DOUBLE) * (CAST(wa AS DOUBLE) / na))
        |                  / (na - 1) / na
        |                + (CAST(vb AS DOUBLE)
        |                   - CAST(wb AS DOUBLE) * (CAST(wb AS DOUBLE) / nb))
        |                    / (nb - 1) / nb) AS t_winsor
        |  FROM stats)
        |SELECT event_type, na, nb,
        |       round(CAST(wa AS DOUBLE) / na / 100000000, 4)
        |         AS mean_a_winsor,
        |       round(t_raw, 6) AS t_raw,
        |       round(t_winsor, 6) AS t_winsor,
        |       CASE WHEN abs(t_raw) > 1.96 THEN 'significant'
        |            ELSE 'not_significant' END AS verdict_raw,
        |       CASE WHEN abs(t_winsor) > 1.96 THEN 'significant'
        |            ELSE 'not_significant' END AS verdict_winsor,
        |       (abs(t_raw) > 1.96) <> (abs(t_winsor) > 1.96) AS flipped
        |FROM t ORDER BY event_type""".stripMargin),
    QueryDef("q287_peeking_audit", q287PeekingAudit _,
      s"""WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day,
        |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS dna,
        |         CAST(sum(CASE WHEN in_a THEN cents ELSE 0 END) AS BIGINT)
        |           AS dsa,
        |         CAST(sum(CASE WHEN in_a THEN cents * cents ELSE 0 END)
        |           AS BIGINT) AS dqa,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
        |           AS dnb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents END) AS BIGINT)
        |           AS dsb,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE cents * cents END)
        |           AS BIGINT) AS dqb
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, day,
        |         CAST(row_number() OVER w AS INTEGER) AS idx,
        |         CAST(sum(dna) OVER w AS BIGINT) AS na,
        |         CAST(sum(dsa) OVER w AS BIGINT) AS sa,
        |         CAST(sum(dqa) OVER w AS BIGINT) AS qa,
        |         CAST(sum(dnb) OVER w AS BIGINT) AS nb,
        |         CAST(sum(dsb) OVER w AS BIGINT) AS sb,
        |         CAST(sum(dqb) OVER w AS BIGINT) AS qb
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |zd AS (
        |  SELECT *,
        |         $peekZ AS z
        |  FROM cum),
        |interim AS (
        |  SELECT event_type,
        |         CAST(max(idx) AS INTEGER) AS n_days,
        |         CAST(min(CASE WHEN z IS NOT NULL AND abs(z) > 1.96
        |                       THEN idx END) AS INTEGER) AS first_stop_idx,
        |         CAST(sum(CASE WHEN z IS NOT NULL AND abs(z) > 1.96
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS days_over
        |  FROM zd GROUP BY 1),
        |fin AS (
        |  SELECT event_type,
        |         CAST(sum(dna) AS BIGINT) AS na,
        |         CAST(sum(dsa) AS BIGINT) AS sa,
        |         CAST(sum(dqa) AS BIGINT) AS qa,
        |         CAST(sum(dnb) AS BIGINT) AS nb,
        |         CAST(sum(dsb) AS BIGINT) AS sb,
        |         CAST(sum(dqb) AS BIGINT) AS qb
        |  FROM daily GROUP BY 1),
        |finz AS (
        |  SELECT event_type,
        |         round($peekZ, 6) AS final_z
        |  FROM fin)
        |SELECT i.event_type, i.n_days, i.first_stop_idx, i.days_over,
        |       f.final_z,
        |       COALESCE(abs(f.final_z) > 1.96, false) AS final_significant,
        |       (i.first_stop_idx IS NOT NULL AND
        |        NOT COALESCE(abs(f.final_z) > 1.96, false)) AS false_stop
        |FROM interim i JOIN finz f USING (event_type)
        |ORDER BY i.event_type""".stripMargin),
    QueryDef("q280_ab_power", q280AbPower _,
      s"""WITH $armStatsCtes
        |SELECT event_type, na, nb,
        |       round((CAST(sa AS DOUBLE) / na) / 100, 4) AS mean_a,
        |       round(($ZSum6
        |              * sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
        |                        * (CAST(sa AS DOUBLE) / na)) / (na - 1)) / na
        |                     + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
        |                        * (CAST(sb AS DOUBLE) / nb)) / (nb - 1)) / nb))
        |             / 100, 4) AS mde_abs,
        |       round(($ZSum6
        |              * sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
        |                        * (CAST(sa AS DOUBLE) / na)) / (na - 1)) / na
        |                     + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
        |                        * (CAST(sb AS DOUBLE) / nb)) / (nb - 1)) / nb))
        |             / (CAST(sa AS DOUBLE) / na), 6) AS mde_rel
        |FROM stats ORDER BY event_type""".stripMargin),
    QueryDef("q253_rate_change", q253RateChange _,
      """WITH ev AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |bounds AS (
        |  SELECT min(us) AS t0, max(us) AS t1,
        |         (min(us) + max(us)) // 2 AS cut
        |  FROM ev),
        |counts AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN us < (SELECT cut FROM bounds)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |         CAST(sum(CASE WHEN us >= (SELECT cut FROM bounds)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |         (SELECT cut - t0 FROM bounds) AS exp1,
        |         (SELECT t1 - cut + 1 FROM bounds) AS exp2
        |  FROM ev GROUP BY 1),
        |calc AS (
        |  SELECT *,
        |         CAST(exp1 AS DOUBLE) / CAST(exp1 + exp2 AS DOUBLE) AS p0,
        |         c1 + c2 AS n
        |  FROM counts),
        |zz AS (
        |  SELECT *,
        |         (CAST(c1 AS DOUBLE) - CAST(n AS DOUBLE) * p0)
        |           / sqrt(CAST(n AS DOUBLE) * p0 * (1.0 - p0)) AS z
        |  FROM calc)
        |SELECT event_type, c1, c2,
        |       round(CAST(n AS DOUBLE) * p0, 2) AS expected_c1,
        |       round(z, 6) AS z,
        |       CASE WHEN abs(z) > 1.96 THEN 'rate_changed'
        |            ELSE 'rate_stable' END AS verdict
        |FROM zz ORDER BY event_type""".stripMargin),
    QueryDef("q251_brown_forsythe", q251BrownForsythe _,
      """WITH ev AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |flagged AS (
        |  SELECT event_type, us < (SELECT cut FROM cut) AS is_ref, cents
        |  FROM ev),
        |meds AS (
        |  SELECT event_type, is_ref,
        |         quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
        |  FROM flagged GROUP BY 1, 2),
        |z AS (
        |  SELECT f.event_type, f.is_ref,
        |         CAST(round(abs(f.cents - m.med) * 2, 0) AS BIGINT) AS z2
        |  FROM flagged f JOIN meds m
        |    ON f.event_type = m.event_type AND f.is_ref = m.is_ref),
        |stats AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |           AS na,
        |         CAST(sum(CASE WHEN is_ref THEN z2 ELSE 0 END) AS BIGINT)
        |           AS sa,
        |         CAST(sum(CASE WHEN is_ref THEN z2 * z2 ELSE 0 END)
        |              AS BIGINT) AS qa,
        |         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)
        |              AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN NOT is_ref THEN z2 ELSE 0 END)
        |              AS BIGINT) AS sb,
        |         CAST(sum(CASE WHEN NOT is_ref THEN z2 * z2 ELSE 0 END)
        |              AS BIGINT) AS qb
        |  FROM z GROUP BY 1),
        |calc AS (
        |  SELECT *,
        |         CAST(sa AS DOUBLE) / na AS ma,
        |         CAST(sb AS DOUBLE) / nb AS mb
        |  FROM stats),
        |tt AS (
        |  SELECT *,
        |         (ma - mb) / sqrt(
        |           ((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * ma)
        |              / (na - 1)) / na
        |           + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * mb)
        |                / (nb - 1)) / nb) AS t
        |  FROM calc)
        |SELECT event_type, na AS n_ref, nb AS n_cur,
        |       round(ma / 200, 4) AS mean_absdev_ref,
        |       round(mb / 200, 4) AS mean_absdev_cur,
        |       round(t, 6) AS t_bf,
        |       CASE WHEN abs(t) > 1.96 THEN 'spread_changed'
        |            ELSE 'spread_stable' END AS verdict
        |FROM tt ORDER BY event_type""".stripMargin),
    QueryDef("q248_diff_in_diff", q248DiffInDiff _,
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |panel AS (
        |  SELECT user_id,
        |         CASE WHEN us < (SELECT cut FROM cut) THEN 'pre'
        |              ELSE 'post' END AS period,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM ev GROUP BY 1, 2),
        |tagged AS (
        |  SELECT *,
        |         CASE WHEN ('0x' || substr(md5('did:'
        |                || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
        |                = 0
        |              THEN 'treat' ELSE 'control' END AS grp
        |  FROM panel),
        |cells AS (
        |  SELECT grp, period, count(*) AS n_units,
        |         CAST(sum(cents) AS BIGINT) AS cents,
        |         CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*)
        |           AS mean_cents
        |  FROM tagged GROUP BY 1, 2),
        |did AS (
        |  SELECT ((SELECT mean_cents FROM cells
        |           WHERE grp = 'treat' AND period = 'post')
        |          - (SELECT mean_cents FROM cells
        |             WHERE grp = 'treat' AND period = 'pre'))
        |         - ((SELECT mean_cents FROM cells
        |             WHERE grp = 'control' AND period = 'post')
        |            - (SELECT mean_cents FROM cells
        |               WHERE grp = 'control' AND period = 'pre'))
        |           AS did_cents)
        |SELECT grp, period, n_units,
        |       round(mean_cents / 100.0, 4) AS mean_spend,
        |       round((SELECT did_cents FROM did) / 100.0, 4) AS did_spend
        |FROM cells ORDER BY grp, period""".stripMargin),
    QueryDef("q165_ab_welch", q165AbWelch _,
      s"""WITH $armStatsCtes
        |SELECT event_type, na, nb,
        |       round((CAST(sa AS DOUBLE) / na) / 100, 4) AS mean_a,
        |       round((CAST(sb AS DOUBLE) / nb) / 100, 4) AS mean_b,
        |       round((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
        |             / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
        |                       * (CAST(sa AS DOUBLE) / na)) / (na - 1)) / na
        |                    + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
        |                       * (CAST(sb AS DOUBLE) / nb)) / (nb - 1)) / nb),
        |             6) AS t_welch,
        |       CASE WHEN abs((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
        |             / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
        |                       * (CAST(sa AS DOUBLE) / na)) / (na - 1)) / na
        |                    + ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
        |                       * (CAST(sb AS DOUBLE) / nb)) / (nb - 1)) / nb))
        |             > 1.96
        |            THEN 'significant' ELSE 'not_significant' END AS verdict
        |FROM stats ORDER BY event_type""".stripMargin),
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
