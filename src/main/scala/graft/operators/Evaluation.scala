package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] ranking-evaluation statistics (q205): exact ROC-AUC
  * (Mann–Whitney U) of a score against a binary label — the
  * model-quality primitive every curation pipeline runs when a
  * quality/classifier score gates data (q121's adaptive threshold,
  * q130's budget ranking): "does this score actually RANK positives
  * above negatives?", answered exactly, not by a sampled curve.
  *
  * Fixture: per-user total spend (exact cents) as the score, "this
  * user's purchase-event count is above the user median" as the
  * label (a has-any-purchase label is degenerate here — with ~66
  * events/user every user purchases) — the monitor one runs to
  * confirm spend separates heavy purchasers before using it as a
  * proxy feature. The median is a broadcast 1-row scalar; if the
  * label degenerates to one class (all counts equal) the AUC is
  * undefined and reported NULL in both engines.
  *
  * Exactness discipline: AUC = U/(P·N) with ties counted half. U is
  * folded WITHOUT pairwise comparison and WITHOUT fractional ranks:
  * group users by DISTINCT score, order score groups ascending, then
  *   2U = Σ_s [ 2·pos(s)·negBelow(s) + pos(s)·neg(s) ]
  * — every term an exact BIGINT (ties contribute the pos·neg cross
  * term at half weight, hence the doubled U), and AUC is ONE
  * correctly-rounded division of 2U by 2·P·N. The only window runs
  * over the DISTINCT-SCORE table (≤ users rows — profile-bounded,
  * the q151 discipline), never over events. */
object Evaluation {

  /** q205 — exact ROC-AUC of spend vs purchaser label; one audit row:
    * counts, the doubled Mann–Whitney U (exact integer), and AUC. */
  def q205RankingAuc(spark: SparkSession, dir: String): DataFrame = {
    val users = scoredUsers(spark, dir)
    val byScore = users.groupBy("cents")
      .agg(sum(col("label")).as("pos"),
        sum(lit(1L) - col("label")).as("neg"))
    // exclusive prefix = inclusive distributed prefix sum − own value
    // (DistributedRank: the distinct-score profile grows with users,
    // so no single-task window over it)
    val terms = DistributedRank.withRunningTotal(byScore, "neg",
        "cum_neg", col("cents").asc)
      .select((lit(2L) * col("pos") * (col("cum_neg") - col("neg")) +
        col("pos") * col("neg")).as("u2_term"),
        col("pos"), col("neg"))
    terms.agg(
        sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(col("u2_term")).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6))
          .as("auc"))
  }

  /** Benford first-digit probabilities log10(1 + 1/d), pinned ONCE to
    * a millionth: Math.log10 and libm log10 are 1-ulp accurate, not
    * correctly rounded, so the raw doubles can diverge cross-engine
    * (the q154 pow() lesson) — both engines instead parse the SAME
    * 6-decimal literals, generated from one Scala computation. */
  private[graft] val Benford6: Seq[(Int, Double)] = (1 to 9).map { d =>
    d -> math.rint(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6
  }

  /** q208 — first-digit (Benford) distribution audit over order
    * amounts: observed leading-digit counts of positive cents vs the
    * Benford expectation, per-digit standardized residuals, and the
    * χ² distance (micro-quantized fold, the q201 discipline). The
    * classic anomaly screen for fabricated or truncated amount
    * columns — synthetic uniform prices FAIL it loudly, which is
    * exactly what the audit should report on this data. One
    * combinable digit fold of the scan; everything after runs on 9
    * rows. */
  def q208DigitAudit(spark: SparkSession, dir: String): DataFrame = {
    val benfordCase = Benford6
      .map { case (d, p) => s"WHEN $d THEN CAST($p AS DOUBLE)" }
      .mkString("CASE digit ", " ", " END")
    val obs = Tables.orders(spark, dir)
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)").as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val total = obs.agg(sum(col("n_obs")).as("n_all"))
    val terms = obs.crossJoin(broadcast(total))
      .withColumn("e", expr(benfordCase) * col("n_all").cast("double"))
      .withColumn("term_micro", expr(
        "cast(round((n_obs - e) * (n_obs - e) / e * 1e6, 0) as bigint)"))
    val stat = terms.agg(
      (sum(col("term_micro")).cast("double") / 1e6).as("chi2_total"))
    terms.crossJoin(broadcast(stat))
      .select(col("digit"), col("n_obs"),
        round(col("e"), 4).as("expected"),
        round((col("n_obs") - col("e")) / sqrt(col("e")), 6)
          .as("std_residual"),
        round(col("chi2_total"), 6).as("chi2_total"))
      .orderBy("digit")
  }

  /** Eval-sample size per stratum for q209. */
  private[graft] val SampleK = 20

  /** q209 — deterministic fixed-size eval sample per stratum: exactly
    * [[SampleK]] events per event type, picked by md5 hash-rank (the
    * q97/q112 never-rand() rule — stable across engines, re-runs, and
    * repartitioning), the construction every eval-set builder needs
    * when strata must be EXACTLY sized, where q68's fraction sampling
    * cannot promise counts. The rank-filter plans as Spark's
    * WindowGroupLimit: each map task keeps only its local top-K per
    * type BEFORE the shuffle, so the sort never sees the full
    * stratum — the reason this shape survives 100 TB strata. */
  def q209EvalSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("rk", "event_id")
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        md5(col("event_id").cast("string")).as("rk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SampleK)
      .select(col("event_type"), col("rn"), col("event_id"))
      .orderBy("event_type", "rn")
  }

  /** The per-user (score, label) frame shared by q205 (AUC) and q213
    * (reliability curve): spend cents vs above-median purchase count. */
  private[graft] def scoredUsers(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("pcnt"))
    val med = perUser.agg(expr("percentile(pcnt, 0.5d)").as("med"))
    perUser.crossJoin(broadcast(med))
      .select(col("user_id"), col("cents"),
        (col("pcnt") > col("med")).cast("long").as("label"))
  }

  /** q213 — reliability (calibration) curve: the decile companion to
    * q205's single-number AUC — users ranked by score into ten
    * equal-count bins (`ntile` with full tie-break), each bin
    * reporting its size, positive count, positive rate, mean score
    * and lift over the global rate. A well-ranking score shows a
    * monotone curve; AUC alone cannot show WHERE the ranking is
    * miscalibrated. Deciles come from [[DistributedRank.withNtile]]
    * over the user-grain profile (bit-identical to the SQL `ntile`
    * it replaces, but range-partitioned — no single-task global
    * window even as users grow with the corpus); every rate/lift is
    * a single division of exact integers. */
  def q213ReliabilityCurve(spark: SparkSession, dir: String): DataFrame = {
    val users = scoredUsers(spark, dir)
    val binned = DistributedRank.withNtile(users, 10, "decile",
        col("cents").desc, col("user_id").asc)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("label")).as("n_pos"),
        sum(col("cents")).as("cents"))
    val global = binned.agg(sum(col("n_pos")).as("g_pos"),
      sum(col("n_users")).as("g_n"))
    binned.crossJoin(broadcast(global))
      .select(col("decile"), col("n_users"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_users"), 6)
          .as("pos_rate"),
        round(col("cents").cast("double") / col("n_users") / 100.0, 2)
          .as("mean_spend"),
        round((col("n_pos").cast("double") / col("n_users")) /
          (col("g_pos").cast("double") / col("g_n")), 6).as("lift"))
      .orderBy("decile")
  }

  /** q222 replicate count (half-rate hash subsamples). */
  private[graft] val StabilityReps = 32

  /** q222 — METRIC STABILITY via deterministic subsample replicates
    * (the subsampling-bootstrap question "how much does this metric
    * move under resampling?" made fully reproducible): for each of
    * [[StabilityReps]] replicates, take the half of events whose
    * replicate membership bit is set and recompute
    * the per-type mean event value; report the full-data mean next
    * to the replicate spread (min / max / range, and how many
    * replicates land within ±1% of the full mean). Every replicate
    * mean is one exact-integer cents sum over the subsample divided
    * once — bit-identical cross-engine; min/max/range are selections
    * and one subtraction of such doubles, so the whole report is
    * deterministic without any variance fold (a sum of squared doubles
    * would be summation-order-dependent).
    *
    * Scale shape: replicate b's membership is BIT b of ONE salted
    * 60-bit hash per row, so all [[StabilityReps]] replicates fold in
    * a SINGLE wide aggregate over one scan — 2·reps conditional sums,
    * never a reps× row fan-out (a replicate-spine cross join measured
    * 34s at pseudo-sf1; this shape scans once). The wide
    * (type × 2·reps) aggregate then melts to the |types|·reps profile
    * for the spread fold. */
  def q222MetricStability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        Hashing.md5Hash60(concat(lit("boot:"), col("event_id"))).as("h"))
    val repAggs = (0 until StabilityReps).flatMap { b =>
      val in = expr(s"(shiftright(h, $b) & 1) = 1")
      Seq(sum(when(in, col("cents")).otherwise(lit(0L))).as(s"s$b"),
        sum(when(in, 1L).otherwise(0L)).as(s"c$b"))
    }
    val wide = base.groupBy("event_type")
      .agg(count(lit(1)).as("n_full"),
        (sum(col("cents")).as("sum_full") +: repAggs): _*)
    wide.select(col("event_type"), col("n_full"),
        (col("sum_full").cast("double") / col("n_full") / 100.0)
          .as("full_mean"),
        explode(array((0 until StabilityReps).map { b =>
          struct(col(s"s$b").as("s"), col(s"c$b").as("c"))
        }: _*)).as("r"))
      .select(col("event_type"), col("n_full"), col("full_mean"),
        (col("r.s").cast("double") / col("r.c") / 100.0).as("m"))
      .groupBy(col("event_type"), col("n_full"), col("full_mean"))
      .agg(count(lit(1)).as("n_reps"),
        min(col("m")).as("rep_min"), max(col("m")).as("rep_max"),
        sum(when(abs(col("m") - col("full_mean")) <=
          col("full_mean") * 0.01, 1L).otherwise(0L)).as("within_1pct"))
      .select(col("event_type"), col("n_full"),
        round(col("full_mean"), 6).as("full_mean"),
        col("n_reps"),
        round(col("rep_min"), 6).as("rep_min"),
        round(col("rep_max"), 6).as("rep_max"),
        round(col("rep_max") - col("rep_min"), 6).as("rep_range"),
        col("within_1pct"))
      .orderBy("event_type")
  }

  /** q229 — COHEN'S KAPPA inter-rater agreement between two
    * independent heuristic quality raters over the document corpus —
    * the audit every labeling/filter pipeline runs before trusting
    * two cheap classifiers as interchangeable gates ("do they agree
    * beyond what their marginal keep-rates force?"). Rater A keeps a
    * doc when its length (n_chars) is at or above the global median;
    * rater B keeps it when its type-token ratio (distinct words /
    * words — lexical diversity) is at or above the global median TTR.
    * Both thresholds are DATA-DERIVED (the r07 no-hardcoded-constant
    * lesson) 1-row exact type-7 percentiles, broadcast.
    *
    * Exactness: each doc's TTR is ONE correctly-rounded division of
    * exact integers (identical cross-engine), the medians interpolate
    * identically (Spark `percentile` == DuckDB `quantile_cont`, the
    * q116 pairing), so the keep flags are deterministic; the 2×2
    * contingency cells fold as exact BIGINTs per language; p_observed
    * / p_expected / kappa are then formed in DOUBLES with identical
    * op shapes (the q227 overflow lesson — pe's marginal products
    * reach n², past int64 at corpus scale). Degenerate languages
    * (pe = 1: every doc in one cell) report NULL kappa in both
    * engines.
    *
    * Scale shape: one doc-grain flag pass (narrow — array_distinct is
    * per-row), two broadcast scalar medians, then a |langs|-row
    * contingency fold. The exact medians are the test-scale arm;
    * approx_percentile is the documented 100 TB drop-in (q176). */
  def q229RaterKappa(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("ws", expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"))
      .filter(col("n_words") >= 1)
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_words").cast("double"))
    val meds = docs.agg(
      expr("percentile(n_chars, 0.5d)").as("med_chars"),
      expr("percentile(ttr, 0.5d)").as("med_ttr"))
    val cells = docs.crossJoin(broadcast(meds))
      .select(col("lang"),
        (col("n_chars").cast("double") >= col("med_chars")).cast("long").as("ra"),
        (col("ttr") >= col("med_ttr")).cast("long").as("rb"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("ra") * col("rb")).as("n11"),
        sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
        sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
        sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
    def d(c: Column): Column = c.cast("double")
    cells
      .withColumn("po", (d(col("n11")) + d(col("n00"))) / d(col("n_docs")))
      .withColumn("pe",
        ((d(col("n11")) + d(col("n10"))) * (d(col("n11")) + d(col("n01"))) +
          (d(col("n01")) + d(col("n00"))) * (d(col("n10")) + d(col("n00")))) /
          (d(col("n_docs")) * d(col("n_docs"))))
      .select(col("lang"), col("n_docs"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        round(col("po"), 6).as("p_observed"),
        round(col("pe"), 6).as("p_expected"),
        when(col("pe") < 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
          .as("kappa"))
      .orderBy("lang")
  }

  /** q242 forecast bins (calibration-half score deciles). */
  private[graft] val BrierBins = 10

  /** q242 — BRIER SCORE with MURPHY DECOMPOSITION (reliability /
    * resolution / uncertainty): build a binned probability forecast on
    * a hash-parity CALIBRATION half (decile edges + per-bin positive
    * rate, the q218 split discipline), score it on the held-out EVAL
    * half, and decompose the Brier score into
    *   REL (calibration error) − RES (discrimination) + UNC (base
    *   rate variance), Brier = REL − RES + UNC
    * — the proper-scoring-rule companion to q205 (AUC ranks, q213
    * plots, q237 repairs; this PRICES the forecast): a score can rank
    * well (high RES) and still be miscalibrated (high REL), and only
    * a proper score exposes both.
    *
    * Exactness: forecasts and observed rates are single divisions of
    * exact integers; the Brier total is computed on the BIN PROFILE by
    * the exact expansion Σ_k (n_k·f_k² − 2·f_k·pos_k + pos_k) — never
    * a per-user float fold — and each bin's REL/RES/Brier term is
    * micro-quantized (×1e9, squared rates are ~1e-2-scale) before the
    * ≤[[BrierBins]]-row sum (the q169 order-free discipline).
    * The Murphy identity then holds to quantization precision — the
    * spec's law.
    *
    * Scale shape: one user fold, two broadcast scalar tables (edges,
    * forecasts), one bin-profile fold; report = bins + repeated
    * totals (the q201/q208 shape). */
  def q242BrierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val users = scoredUsers(spark, dir)
      .withColumn("is_cal",
        pmod(Hashing.md5Hash60(concat(lit("brier:"),
          col("user_id").cast("string"))), lit(2)) === 0)
    val cal = users.filter(col("is_cal"))
    val probes = (1 until BrierBins).map(_.toDouble / BrierBins)
    val edges = cal.agg(expr(
      s"transform(percentile(cents, array(${probes.mkString(", ")}))," +
        " e -> round(e, 6))").as("edges"))
    val binOf = size(expr("filter(edges, e -> cents >= e)")).as("bin")
    val forecasts = cal.crossJoin(broadcast(edges))
      .select(binOf, col("label"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_cal"), sum(col("label")).as("pos_cal"))
      .withColumn("f",
        col("pos_cal").cast("double") / col("n_cal").cast("double"))
    val evalBins = users.filter(!col("is_cal"))
      .crossJoin(broadcast(edges))
      .select(binOf, col("label"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_ev"), sum(col("label")).as("pos_ev"))
    val joined = evalBins.join(broadcast(forecasts), Seq("bin"))
    val totals = joined.agg(sum(col("n_ev")).as("n_total"),
      sum(col("pos_ev")).as("pos_total"))
    val terms = joined.crossJoin(broadcast(totals))
      .withColumn("ybar",
        col("pos_total").cast("double") / col("n_total").cast("double"))
      .withColumn("yk",
        col("pos_ev").cast("double") / col("n_ev").cast("double"))
      .withColumn("rel_micro", expr(
        "cast(round(n_ev * (f - yk) * (f - yk) * 1e9, 0) as bigint)"))
      .withColumn("res_micro", expr(
        "cast(round(n_ev * (yk - ybar) * (yk - ybar) * 1e9, 0) as bigint)"))
      .withColumn("brier_micro", expr(
        "cast(round((n_ev * f * f - 2 * f * pos_ev + pos_ev) * 1e9, 0)" +
          " as bigint)"))
    val summary = terms.agg(
      max(col("n_total")).as("n_total"),
      (sum(col("rel_micro")).cast("double") / 1e9).as("rel_sum"),
      (sum(col("res_micro")).cast("double") / 1e9).as("res_sum"),
      (sum(col("brier_micro")).cast("double") / 1e9).as("brier_sum"),
      max(col("ybar")).as("ybar"))
    terms.crossJoin(broadcast(summary.select(
        round(col("rel_sum") / col("n_total"), 6).as("reliability"),
        round(col("res_sum") / col("n_total"), 6).as("resolution"),
        round(col("ybar") * (lit(1.0) - col("ybar")), 6).as("uncertainty"),
        round(col("brier_sum") / col("n_total"), 6).as("brier"))))
      .select(col("bin"), col("n_cal"), round(col("f"), 6).as("forecast"),
        col("n_ev"), round(col("yk"), 6).as("obs_rate"),
        col("reliability"), col("resolution"), col("uncertainty"),
        col("brier"))
      .orderBy("bin")
  }

  /** q254 — MEDIAN STABILITY via deterministic subsample replicates:
    * q222 bounds the resampling spread of the MEAN; this does the
    * same for the MEDIAN — the robust location statistic the q176/
    * q190/q225 family reports — whose sampling variability has no
    * closed sufficient-statistics form at all, so replication is the
    * HONEST way to band it. Replicate b = the half of events whose
    * salted-hash bit b is set (the q222 bit-membership discipline,
    * zero row fan-out); each replicate's exact median is one
    * null-skipping conditional percentile, so the whole report is
    * [[StabilityReps]]·|types| medians from ONE wide aggregate pass.
    *
    * Exactness: each median interpolates identically cross-engine
    * (Spark `percentile` == DuckDB `quantile_cont` over the same
    * subsample, the q116 pairing); min/max/range are selections of
    * such doubles; the within-1% count compares them.
    *
    * Scale shape: one wide conditional aggregate over one scan; the
    * melt runs on the |types|×reps profile. The exact percentile is
    * the test-scale arm; approx_percentile is the documented 100 TB
    * drop-in. */
  def q254MedianStability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        Hashing.md5Hash60(concat(lit("mboot:"), col("event_id")))
          .as("h"))
    // r15 (the q290 lesson): the 33 exact-percentile aggregates are
    // ImperativeAggregates whose buffers hold a value→count map and
    // whose per-row update runs interpreted — feeding them every EVENT
    // row paid 33 map updates per row into |types| single-threaded
    // merge tasks. The (type, cents) frequency profile does the
    // counting in ONE combinable codegen hash aggregate; the same 33
    // percentiles then run frequency-weighted over profile rows —
    // bit-identical (a percentile's state IS the value→count map, and
    // Spark's Percentile skips non-positive frequencies, so a cents
    // value absent from replicate b contributes exactly nothing, as
    // the old CASE WHEN null did).
    val profAggs = count(lit(1)).as("f_full") +:
      (0 until StabilityReps).map { b =>
        sum(expr(s"case when (shiftright(h, $b) & 1) = 1 " +
          "then 1L else 0L end")).as(s"f$b")
      }
    val profile = base.groupBy("event_type", "cents")
      .agg(profAggs.head, profAggs.tail: _*)
    val repAggs = (0 until StabilityReps).map { b =>
      expr(s"percentile(cents, 0.5d, f$b)").as(s"m$b")
    }
    val wide = profile.groupBy("event_type")
      .agg(sum(col("f_full")).as("n_full"),
        (expr("percentile(cents, 0.5d, f_full)").as("med_full")
          +: repAggs): _*)
    wide.select(col("event_type"), col("n_full"), col("med_full"),
        explode(array((0 until StabilityReps).map(b => col(s"m$b")): _*))
          .as("m"))
      .groupBy(col("event_type"), col("n_full"), col("med_full"))
      .agg(count(lit(1)).as("n_reps"),
        min(col("m")).as("rep_min"), max(col("m")).as("rep_max"),
        sum(when(abs(col("m") - col("med_full")) <=
          abs(col("med_full")) * 0.01, 1L).otherwise(0L))
          .as("within_1pct"))
      .select(col("event_type"), col("n_full"),
        round(col("med_full") / 100.0, 4).as("median_full"),
        col("n_reps"),
        round(col("rep_min") / 100.0, 4).as("rep_min"),
        round(col("rep_max") / 100.0, 4).as("rep_max"),
        round((col("rep_max") - col("rep_min")) / 100.0, 4)
          .as("rep_range"),
        col("within_1pct"))
      .orderBy("event_type")
  }

  /** Oracle CTEs of the spend-vs-label frame: per-user spend `cents`
    * and purchase count `pcnt` (`per_user`), and the median purchase
    * count `med` a label is drawn against. */
  private val spendLabelCtes: String =
    """per_user AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
      |              AS BIGINT) AS cents,
      |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
      |                       ELSE 0 END) AS BIGINT) AS pcnt
      |  FROM events GROUP BY 1),
      |med AS (SELECT quantile_cont(CAST(pcnt AS DOUBLE), 0.5) AS med
      |        FROM per_user)""".stripMargin

  /** [[spendLabelCtes]] plus `users` (user_id, cents, label): label = 1
    * above the median purchase count. q213 and q237 ([[Calibration]])
    * read it. */
  private[operators] val labeledUsersCtes: String =
    s"""$spendLabelCtes,
      |users AS (
      |  SELECT user_id, cents,
      |         CASE WHEN pcnt > (SELECT med FROM med) THEN 1
      |              ELSE 0 END AS label
      |  FROM per_user)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q254_median_stability", q254MedianStability _,
      s"""WITH base AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         ('0x' || substr(md5('mboot:' || CAST(event_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM events),
        |full_m AS (
        |  SELECT event_type, count(*) AS n_full,
        |         quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med_full
        |  FROM base GROUP BY 1),
        |reps AS (SELECT unnest(generate_series(0, ${StabilityReps - 1}))
        |           AS rep),
        |rep_m AS (
        |  SELECT b.event_type, r.rep,
        |         quantile_cont(CAST(b.cents AS DOUBLE), 0.5) AS m
        |  FROM base b CROSS JOIN reps r
        |  WHERE ((b.h >> r.rep) & 1) = 1
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT m.event_type, f.n_full, f.med_full,
        |         count(*) AS n_reps,
        |         min(m.m) AS rep_min, max(m.m) AS rep_max,
        |         CAST(count(*) FILTER (WHERE abs(m.m - f.med_full)
        |                <= abs(f.med_full) * 0.01) AS BIGINT)
        |           AS within_1pct
        |  FROM rep_m m JOIN full_m f ON m.event_type = f.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, n_full,
        |       round(med_full / 100.0, 4) AS median_full,
        |       n_reps, round(rep_min / 100.0, 4) AS rep_min,
        |       round(rep_max / 100.0, 4) AS rep_max,
        |       round((rep_max - rep_min) / 100.0, 4) AS rep_range,
        |       within_1pct
        |FROM agg ORDER BY event_type""".stripMargin),
    QueryDef("q242_brier_decomposition", q242BrierDecomposition _,
      {
      val probes = (1 until BrierBins).map(_.toDouble / BrierBins)
      s"""WITH $spendLabelCtes,
        |users AS (
        |  SELECT user_id, cents,
        |         CASE WHEN pcnt > (SELECT med FROM med) THEN 1
        |              ELSE 0 END AS label,
        |         ('0x' || substr(md5('brier:' || CAST(user_id AS VARCHAR)),
        |                         1, 15))::BIGINT % 2 = 0 AS is_cal
        |  FROM per_user),
        |edges AS (
        |  SELECT list_transform(
        |           quantile_cont(CAST(cents AS DOUBLE),
        |                         [${probes.mkString(", ")}]),
        |           e -> round(e, 6)) AS edges
        |  FROM users WHERE is_cal),
        |forecasts AS (
        |  SELECT bin, count(*) AS n_cal,
        |         CAST(sum(label) AS BIGINT) AS pos_cal,
        |         CAST(sum(label) AS DOUBLE) / count(*) AS f
        |  FROM (SELECT len(list_filter((SELECT edges FROM edges),
        |                               e -> cents >= e)) AS bin, label
        |        FROM users WHERE is_cal)
        |  GROUP BY 1),
        |ev AS (
        |  SELECT bin, count(*) AS n_ev,
        |         CAST(sum(label) AS BIGINT) AS pos_ev
        |  FROM (SELECT len(list_filter((SELECT edges FROM edges),
        |                               e -> cents >= e)) AS bin, label
        |        FROM users WHERE NOT is_cal)
        |  GROUP BY 1),
        |joined AS (
        |  SELECT e.bin, e.n_ev, e.pos_ev, f.n_cal, f.pos_cal, f.f
        |  FROM ev e JOIN forecasts f ON e.bin = f.bin),
        |tot AS (
        |  SELECT CAST(sum(n_ev) AS BIGINT) AS n_total,
        |         CAST(sum(pos_ev) AS BIGINT) AS pos_total
        |  FROM joined),
        |terms AS (
        |  SELECT j.*,
        |         CAST(t.pos_total AS DOUBLE) / t.n_total AS ybar,
        |         CAST(j.pos_ev AS DOUBLE) / j.n_ev AS yk,
        |         t.n_total
        |  FROM joined j CROSS JOIN tot t),
        |quant AS (
        |  SELECT *,
        |    CAST(round(n_ev * (f - yk) * (f - yk) * 1e9, 0) AS BIGINT)
        |      AS rel_micro,
        |    CAST(round(n_ev * (yk - ybar) * (yk - ybar) * 1e9, 0) AS BIGINT)
        |      AS res_micro,
        |    CAST(round((n_ev * f * f - 2 * f * pos_ev + pos_ev) * 1e9, 0)
        |         AS BIGINT) AS brier_micro
        |  FROM terms),
        |summ AS (
        |  SELECT round(CAST(sum(rel_micro) AS DOUBLE) / 1e9
        |               / max(n_total), 6) AS reliability,
        |         round(CAST(sum(res_micro) AS DOUBLE) / 1e9
        |               / max(n_total), 6) AS resolution,
        |         round(max(ybar) * (1.0 - max(ybar)), 6) AS uncertainty,
        |         round(CAST(sum(brier_micro) AS DOUBLE) / 1e9
        |               / max(n_total), 6) AS brier
        |  FROM quant)
        |SELECT CAST(q.bin AS INTEGER) AS bin, q.n_cal,
        |       round(q.f, 6) AS forecast,
        |       q.n_ev, round(q.yk, 6) AS obs_rate,
        |       s.reliability, s.resolution, s.uncertainty, s.brier
        |FROM quant q CROSS JOIN summ s
        |ORDER BY q.bin""".stripMargin
    }),
    QueryDef("q229_rater_kappa", q229RaterKappa _,
      """WITH docs AS (
        |  SELECT doc_id, lang, n_chars,
        |         len(list_filter(string_split(trim(text), ' '),
        |                         w -> length(w) > 0)) AS n_words,
        |         len(list_distinct(list_filter(string_split(trim(text), ' '),
        |                                       w -> length(w) > 0)))
        |           AS n_distinct
        |  FROM documents),
        |flagged AS (
        |  SELECT lang, n_chars,
        |         CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr
        |  FROM docs WHERE n_words >= 1),
        |meds AS (
        |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med_chars,
        |         quantile_cont(ttr, 0.5) AS med_ttr
        |  FROM flagged),
        |cells AS (
        |  SELECT lang, count(*) AS n_docs,
        |         CAST(sum(ra * rb) AS BIGINT) AS n11,
        |         CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
        |         CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
        |         CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
        |  FROM (SELECT lang,
        |          CASE WHEN CAST(n_chars AS DOUBLE)
        |                 >= (SELECT med_chars FROM meds) THEN 1
        |               ELSE 0 END AS ra,
        |          CASE WHEN ttr >= (SELECT med_ttr FROM meds) THEN 1
        |               ELSE 0 END AS rb
        |        FROM flagged)
        |  GROUP BY 1),
        |rates AS (
        |  SELECT lang, n_docs, n11, n10, n01, n00,
        |         (CAST(n11 AS DOUBLE) + CAST(n00 AS DOUBLE))
        |           / CAST(n_docs AS DOUBLE) AS po,
        |         ((CAST(n11 AS DOUBLE) + CAST(n10 AS DOUBLE))
        |            * (CAST(n11 AS DOUBLE) + CAST(n01 AS DOUBLE))
        |          + (CAST(n01 AS DOUBLE) + CAST(n00 AS DOUBLE))
        |            * (CAST(n10 AS DOUBLE) + CAST(n00 AS DOUBLE)))
        |           / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS pe
        |  FROM cells)
        |SELECT lang, n_docs, n11, n10, n01, n00,
        |       round(po, 6) AS p_observed,
        |       round(pe, 6) AS p_expected,
        |       CASE WHEN pe < 1.0
        |            THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
        |FROM rates ORDER BY lang""".stripMargin),
    QueryDef("q222_metric_stability", q222MetricStability _,
      s"""WITH base AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         ('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM events),
        |full_m AS (
        |  SELECT event_type, count(*) AS n_full,
        |         CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |           / count(*) / 100.0 AS full_mean
        |  FROM base GROUP BY event_type),
        |reps AS (SELECT unnest(generate_series(0, ${StabilityReps - 1}))
        |           AS rep),
        |rep_m AS (
        |  SELECT b.event_type, r.rep,
        |         CAST(CAST(sum(b.cents) AS BIGINT) AS DOUBLE)
        |           / count(*) / 100.0 AS m
        |FROM base b CROSS JOIN reps r
        |  WHERE ((b.h >> r.rep) & 1) = 1
        |  GROUP BY b.event_type, r.rep),
        |agg AS (
        |  SELECT m.event_type, f.n_full, f.full_mean,
        |         count(*) AS n_reps,
        |         min(m.m) AS rep_min, max(m.m) AS rep_max,
        |         CAST(count(*) FILTER (WHERE abs(m.m - f.full_mean)
        |                <= f.full_mean * 0.01) AS BIGINT) AS within_1pct
        |  FROM rep_m m JOIN full_m f ON m.event_type = f.event_type
        |  GROUP BY m.event_type, f.n_full, f.full_mean)
        |SELECT event_type, n_full, round(full_mean, 6) AS full_mean,
        |       n_reps, round(rep_min, 6) AS rep_min,
        |       round(rep_max, 6) AS rep_max,
        |       round(rep_max - rep_min, 6) AS rep_range, within_1pct
        |FROM agg ORDER BY event_type""".stripMargin),
    QueryDef("q205_ranking_auc", q205RankingAuc _,
      s"""WITH $spendLabelCtes,
        |users AS (
        |  SELECT cents,
        |         CASE WHEN pcnt > (SELECT med FROM med) THEN 1
        |              ELSE 0 END AS label
        |  FROM per_user),
        |by_score AS (
        |  SELECT cents, CAST(sum(label) AS BIGINT) AS pos,
        |         CAST(sum(1 - label) AS BIGINT) AS neg
        |  FROM users GROUP BY 1),
        |terms AS (
        |  SELECT pos, neg,
        |         COALESCE(CAST(sum(neg) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS neg_below
        |  FROM by_score),
        |agg AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |         CAST(sum(neg) AS BIGINT) AS n_neg,
        |         CAST(sum(2 * pos * neg_below + pos * neg) AS BIGINT)
        |           AS u2
        |  FROM terms)
        |SELECT n_pos, n_neg, u2,
        |       CASE WHEN n_pos > 0 AND n_neg > 0
        |            THEN round(CAST(u2 AS DOUBLE)
        |                       / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
        |            END AS auc
        |FROM agg""".stripMargin),
    QueryDef("q208_digit_audit", q208DigitAudit _,
      {
      val benfordCase = Benford6
        .map { case (d, p) => s"WHEN $d THEN CAST($p AS DOUBLE)" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH obs AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
        |           AS digit,
        |         count(*) AS n_obs
        |  FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        |        FROM orders)
        |  WHERE c > 0 GROUP BY 1),
        |total AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_all FROM obs),
        |terms AS (
        |  SELECT digit, n_obs,
        |         ($benfordCase)
        |           * CAST((SELECT n_all FROM total) AS DOUBLE) AS e
        |  FROM obs),
        |quant AS (
        |  SELECT digit, n_obs, e,
        |         CAST(round((n_obs - e) * (n_obs - e) / e * 1e6, 0)
        |              AS BIGINT) AS term_micro
        |  FROM terms),
        |stat AS (SELECT CAST(sum(term_micro) AS DOUBLE) / 1e6
        |           AS chi2_total FROM quant)
        |SELECT digit, n_obs,
        |       round(e, 4) AS expected,
        |       round((n_obs - e) / sqrt(e), 6) AS std_residual,
        |       round((SELECT chi2_total FROM stat), 6) AS chi2_total
        |FROM quant ORDER BY digit""".stripMargin
    }),
    QueryDef("q209_eval_sample", q209EvalSample _,
      s"""WITH ranked AS (
        |  SELECT event_type, event_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY event_type
        |           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
        |         AS INTEGER) AS rn
        |  FROM events)
        |SELECT event_type, rn, event_id
        |FROM ranked WHERE rn <= $SampleK
        |ORDER BY event_type, rn""".stripMargin),
    QueryDef("q213_reliability_curve", q213ReliabilityCurve _,
      s"""WITH $labeledUsersCtes,
        |binned AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY cents DESC, user_id)
        |              AS INTEGER) AS decile,
        |         cents, label
        |  FROM users),
        |agg AS (
        |  SELECT decile, count(*) AS n_users,
        |         CAST(sum(label) AS BIGINT) AS n_pos,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM binned GROUP BY 1),
        |global AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS g_pos,
        |         CAST(sum(n_users) AS BIGINT) AS g_n
        |  FROM agg)
        |SELECT decile, n_users, n_pos,
        |       round(CAST(n_pos AS DOUBLE) / n_users, 6) AS pos_rate,
        |       round(CAST(cents AS DOUBLE) / n_users / 100.0, 2)
        |         AS mean_spend,
        |       round((CAST(n_pos AS DOUBLE) / n_users) /
        |             (CAST((SELECT g_pos FROM global) AS DOUBLE)
        |              / (SELECT g_n FROM global)), 6) AS lift
        |FROM agg ORDER BY decile""".stripMargin))
}
