package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] distribution-drift monitoring (q151): the Population
  * Stability Index check a production pipeline runs on every refresh —
  * "does today's batch still look like the batch the downstream
  * models/filters were tuned on?". Where q139's expectation suite
  * checks one dataset against FIXED contracts, PSI compares TWO
  * batches against each other:
  *
  *   PSI = Σ_buckets (p_cur − p_ref) · ln(p_cur / p_ref)
  *
  * with the conventional reading: < 0.1 stable, 0.1–0.25 moderate
  * shift, ≥ 0.25 drifted. Proportions are add-one smoothed (the q147
  * discipline), so empty buckets cannot produce infinities and both
  * engines compute the identical finite sum.
  *
  * Scale shape: each monitored feature folds its batch into a
  * ≤-buckets-row count table (one conditional-count aggregate per
  * scan, the q139 pattern); PSI itself is arithmetic over two tiny
  * broadcast tables. The reference batch's decile edges are computed
  * once on the REFERENCE slice only — at 100 TB they come from the
  * persisted profile of the tuning snapshot, not a rescan — and the
  * split cutoff derives from the DATA (midpoint of the observed time
  * range), never a hardcoded date: driver-owned testdata regenerates
  * (the r07 lesson), and a literal would silently re-split it.
  */
object Drift {

  private[graft] val DecileProbes: Seq[Double] =
    (1 to 9).map(_ / 10.0)

  /** PSI of two bucket-count tables (columns: bucket, n). Add-one
    * smoothing over the union bucket space; returns the UNROUNDED
    * 1-row sum (column `psi`). Exposed for the spec's synthetic
    * drifted-distribution probe. */
  private[graft] def psiOf(ref: DataFrame, cur: DataFrame): DataFrame = {
    val joined = ref.select(col("bucket"), col("n").as("nr"))
      .join(cur.select(col("bucket"), col("n").as("nc")), Seq("bucket"),
        "full_outer")
      .select(col("bucket"),
        coalesce(col("nr"), lit(0L)).as("nr"),
        coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = joined.agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"),
      count(lit(1)).as("b"))
    joined.crossJoin(broadcast(tot))
      .select(
        ((((col("nc") + 1).cast("double") / (col("tc") + col("b"))) -
          ((col("nr") + 1).cast("double") / (col("tr") + col("b")))) *
          log(((col("nc") + 1).cast("double") / (col("tc") + col("b"))) /
            ((col("nr") + 1).cast("double") / (col("tr") + col("b")))))
          .as("term"))
      .agg(sum(col("term")).as("psi"))
  }

  private def verdictOf(psi: Column): Column =
    when(psi < 0.1, lit("stable"))
      .when(psi < 0.25, lit("moderate"))
      .otherwise(lit("drifted"))

  /** The events stream split at the midpoint of its observed time
    * range: (event_type, value, is_ref), is_ref = the first half. The
    * cut is data-derived, the integer midpoint of [min, max]
    * microseconds, exact and identical in both engines. Cached per
    * (session, dir) and shared by q151, q234 and q278, so the monitors
    * read the same snapshot. */
  private def psiFlagged(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"psi_flagged|$dir") {
      val ev = Tables.events(spark, dir)
        .select(unix_micros(col("ts")).as("us"), col("event_type"),
          col("value"))
      val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
      ev.crossJoin(broadcast(cut))
        .select(col("event_type"), col("value"),
          (col("us") < col("cut")).as("is_ref"))
    }

  /** The reference half's exact decile edges of `value`, rounded to 6
    * decimals once: one row, column `edges`. */
  private def refDecileEdges(flagged: DataFrame): DataFrame =
    flagged.filter(col("is_ref"))
      .agg(expr(s"transform(percentile(value, array(${DecileProbes.mkString(", ")}))," +
        " e -> round(e, 6))").as("edges"))

  /** q151 — PSI drift monitor over the events stream, split at the
    * midpoint of the observed time range (reference = first half,
    * current = second half): the continuous `value` distribution
    * bucketed by the REFERENCE batch's exact decile edges (rounded to
    * 6 decimals before bucketing, the q121/q116 exact-percentile
    * discipline), and the categorical `event_type` frequency
    * distribution. One verdict row per feature. On this stationary
    * synthetic stream both features read "stable" — the monitor's
    * steady-state output; the spec drives the drifted branch through
    * [[psiOf]] with a shifted distribution. */
  def q151PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val flagged = psiFlagged(spark, dir)
    // continuous feature: ref-batch decile edges, rounded once
    val edges = refDecileEdges(flagged)
    val valueBuckets = flagged.crossJoin(broadcast(edges))
      .select(col("is_ref"),
        size(expr("filter(edges, e -> value >= e)")).as("bucket"))
      .groupBy("is_ref", "bucket").agg(count(lit(1)).as("n"))
    val valuePsi = psiOf(
      valueBuckets.filter(col("is_ref")).select(col("bucket"), col("n")),
      valueBuckets.filter(!col("is_ref")).select(col("bucket"), col("n")))
    // categorical feature: event_type frequencies
    val typeBuckets = flagged
      .groupBy(col("is_ref"), col("event_type").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val typePsi = psiOf(
      typeBuckets.filter(col("is_ref")).select(col("bucket"), col("n")),
      typeBuckets.filter(!col("is_ref")).select(col("bucket"), col("n")))
    val counts = flagged.agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val row = (name: String, psi: DataFrame) =>
      psi.select(lit(name).as("feature"), round(col("psi"), 6).as("psi"))
        .select(col("feature"), col("psi"), verdictOf(col("psi")).as("verdict"))
        .crossJoin(broadcast(counts))
    row("event_type", typePsi).unionAll(row("value", valuePsi))
      .orderBy("feature")
  }

  /** Streaming drift ledger — the production deployment of q151: a
    * `foreachBatch` hook that scores every micro-batch's categorical
    * distribution against the STATIC reference counts (the tuning
    * snapshot's persisted profile) and appends one
    * (batch_id, n_events, psi, verdict) row to the ledger directory.
    * The per-batch work is one groupBy of the micro-batch plus [[psiOf]]
    * over two tiny tables; the 1-row collect is the scalar-per-batch
    * discipline (a verdict IS driver-sized). Exactly-once on retries
    * comes from the same idempotence argument as the upsert sink: the
    * ledger row is keyed by batch_id, and a replayed batch rewrites
    * the identical row. */
  def driftLedgerBatch(refCounts: DataFrame, sinkDir: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val counts = batch.groupBy(col("event_type").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val row = psiOf(refCounts, counts)
      .select(round(col("psi"), 6).as("psi"))
      .select(col("psi"), verdictOf(col("psi")).as("verdict"))
      .collect().head
    val n = batch.count()
    val spark = batch.sparkSession
    import spark.implicits._
    Seq((batchId, n, row.getDouble(0), row.getString(1)))
      .toDF("batch_id", "n_events", "psi", "verdict")
      // overwrite of the batch-keyed subdir, not append: a replayed
      // batch rewrites the identical row instead of duplicating it
      .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
  }

  /** KS critical-value coefficient at α = 0.05 (two-sample, large-n
    * asymptotic c(α) = √(−ln(α/2)/2) ≈ 1.3581): pinned as the SAME
    * 4-decimal literal in both engines (the Benford6 pinning
    * discipline — deriving it via sqrt/ln at runtime would be two
    * more 1-ulp ops for no benefit). */
  private[graft] val KsCoeff05 = 1.3581

  /** q234 — per-type two-sample KOLMOGOROV–SMIRNOV drift test between
    * the two time halves: the DISTRIBUTION-SHAPE companion to q151's
    * PSI — PSI scores binned mass shift and can miss a pure location
    * shift that stays within buckets; KS is the max vertical gap
    * between the two empirical CDFs and is the classic two-sample
    * shape test. Split and decile grid are exactly q151's (shared
    * cached flag pass, same data-derived midpoint cutoff, same
    * REFERENCE-half edges rounded once) so the two monitors read the
    * same snapshot; each event type gets its own KS row with the
    * α = 0.05 critical value d_crit = c(α)·√((n+m)/(n·m)) and a
    * drifted/stable verdict on the ROUNDED statistic.
    *
    * Exactness: bucket counts fold exact; the CDF gaps are divisions
    * of exact integers (per-type cumulative counts over a ≤11-row
    * window PARTITIONED BY TYPE — never a global window); n·m forms
    * in doubles (the q227 overflow lesson). On the stationary
    * synthetic stream every type reads stable — the steady state; the
    * spec drives the drifted branch with a shifted distribution.
    *
    * Scale shape: one conditional-count fold of the scan to the
    * |types|·buckets profile; everything after runs on that profile. */
  def q234KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val flagged = psiFlagged(spark, dir)
    val edges = refDecileEdges(flagged)
    val buckets = flagged.crossJoin(broadcast(edges))
      .select(col("event_type"), col("is_ref"),
        size(expr("filter(edges, e -> value >= e)")).as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nc"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bucket")
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    buckets
      .withColumn("cr", sum(col("nr")).over(wCum))
      .withColumn("cc", sum(col("nc")).over(wCum))
      .withColumn("tr", sum(col("nr")).over(wTot))
      .withColumn("tc", sum(col("nc")).over(wTot))
      .select(col("event_type"), col("tr"), col("tc"),
        abs(col("cr").cast("double") / col("tr").cast("double") -
          col("cc").cast("double") / col("tc").cast("double")).as("gap"))
      .groupBy(col("event_type"))
      .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
        round(max(col("gap")), 6).as("ks_stat"))
      .withColumn("d_crit", round(
        lit(KsCoeff05) * sqrt(
          (col("n_ref") + col("n_cur")).cast("double") /
            (col("n_ref").cast("double") * col("n_cur").cast("double"))), 6))
      .withColumn("verdict",
        when(col("ks_stat") > col("d_crit"), lit("drifted"))
          .otherwise(lit("stable")))
      .orderBy("event_type")
  }

  /** q298 — WASSERSTEIN-1 (earth-mover) DRIFT: per event type between
    * the q151/q234 SHARED halves, W₁ = ∫|F_ref(x) − F_cur(x)|dx over
    * the cents grid — the third canonical drift statistic next to PSI
    * (binned mass) and KS (worst gap): W₁ is the MAGNITUDE of the
    * shift in value units (literally the minimum average dollar
    * movement to turn one distribution into the other), so a
    * tail-only and a body shift that tie on KS separate here, and
    * unlike q278's ten probes it integrates over the whole support.
    *
    * Exactness: values quantize to cents per row; the CDF gap terms
    * live on the distinct-cents PROFILE (cumulative integer windows),
    * each trapezoid term |gap|·Δx micro-quantizes to BIGINT before
    * the fold (q169 discipline); W₁ is one division at the end.
    *
    * Scale shape: one conditional fold to the (type, cent) histogram
    * — profile cardinality is bounded by the cents DOMAIN, not the
    * event count — then windows over that profile per type. */
  def q298WassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("c"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val hist = ev.crossJoin(broadcast(cut))
      .groupBy("event_type", "c")
      .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("nc"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("c")
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val gap = abs(
      sum(col("nr")).over(wC).cast("double") /
        sum(col("nr")).over(wT).cast("double") -
      sum(col("nc")).over(wC).cast("double") /
        sum(col("nc")).over(wT).cast("double"))
    hist
      .select(col("event_type"),
        sum(col("nr")).over(wT).as("n_ref"),
        sum(col("nc")).over(wT).as("n_cur"),
        round(gap * (coalesce(lead(col("c"), 1).over(wC), col("c")) -
          col("c")).cast("double") * lit(1000000d), 0).cast("long")
          .as("term_mu"))
      .groupBy("event_type")
      .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
        sum("term_mu").as("s_mu"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        round(col("s_mu").cast("double") / 1000000d / 100, 6)
          .as("w1_value"))
      .orderBy("event_type")
  }

  /** q305 — CATEGORICAL COMPOSITION DRIFT (order-priority mix): how
    * the priority mix shifted between the order-date halves, per
    * class and in total — the CATEGORICAL drift monitor next to the
    * numeric family (q151 PSI / q234 KS / q298 W₁): per priority the
    * before/after shares and delta, plus the total-variation distance
    * ½Σ|p−q|, which is EXACT here because TV over an enum profile
    * needs no float sum at all: Σ|n1ᵢ·N2 − n2ᵢ·N1| folds as BIGINTs
    * and one division forms the statistic.
    *
    * Scale shape: one conditional fold to the |priorities|-row
    * profile; everything downstream is enum-sized. */
  def q305PriorityDrift(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(unix_micros(col("o_orderdate")).as("us"),
        col("o_orderpriority").as("priority"))
    val cut = ord.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val prof = ord.crossJoin(broadcast(cut))
      .groupBy("priority")
      .agg(sum(when(col("us") < col("cut"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("us") >= col("cut"), 1L).otherwise(0L)).as("n2"))
    val tot = prof.agg(sum("n1").as("t1"), sum("n2").as("t2"))
    val cross = prof.crossJoin(broadcast(tot))
    val tv = cross.agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
      sum(abs(col("n1") * col("t2") - col("n2") * col("t1"))).as("tvn"))
      .select((col("tvn").cast("double") /
        (lit(2.0) * col("t1").cast("double") * col("t2").cast("double")))
        .as("tv"))
    cross.crossJoin(broadcast(tv))
      .select(col("priority"), col("n1"), col("n2"),
        round(col("n1").cast("double") / col("t1"), 6).as("share_first"),
        round(col("n2").cast("double") / col("t2"), 6).as("share_second"),
        round(col("n2").cast("double") / col("t2") -
          col("n1").cast("double") / col("t1"), 6).as("delta"),
        round(col("tv"), 6).as("tv_distance"))
      .orderBy("priority")
  }

  /** q334 pinned DKW constant: ln(2/α) at α = 0.05, micro-rounded
    * once (ln of a constant is libm territory — Benford6 rule). */
  private[graft] val DkwLn40 = 3.688879

  /** q334 — DKW CONFIDENCE BAND for the median: per event type, the
    * distribution-free 95% band on the median from the
    * Dvoretzky–Kiefer–Wolfowitz inequality — ε = √(ln(2/α)/2n) on the
    * empirical CDF, inverted to VALUE units on the cents profile (the
    * values where the CDF crosses 0.5 ∓ ε). No normality assumption,
    * no bootstrap randomness: the honest "how well do we even know
    * the median?" error bar under every median-based monitor
    * (q176/q190/q254).
    *
    * Exactness: the CDF lives on the exact (type, cent) profile;
    * band endpoints are min-value selections under `cum ≥ p·n`
    * comparisons formed identically in both engines; ε is one √ of a
    * pinned-literal division. */
  def q334DkwMedianBand(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("c"))
      .groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("c")
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type")
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wC))
      .withColumn("n", sum(col("cnt")).over(wT))
    val eps = sqrt(lit(DkwLn40) / (lit(2.0) * col("n")))
    val med = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("c"))
      .groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("med"))
    cum
      .withColumn("lo_t", (lit(0.5) - eps) * col("n"))
      .withColumn("hi_t", (lit(0.5) + eps) * col("n"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(when(col("cum").cast("double") >= col("lo_t"), col("c")))
          .as("lo_c"),
        min(when(col("cum").cast("double") >= col("hi_t"), col("c")))
          .as("hi_c"))
      .join(med, Seq("event_type"))
      .select(col("event_type"), col("n"),
        round(col("med") / 100, 4).as("median_value"),
        round(col("lo_c").cast("double") / 100, 2).as("band_lo"),
        round(col("hi_c").cast("double") / 100, 2).as("band_hi"),
        round((col("hi_c") - col("lo_c")).cast("double") / 100, 2)
          .as("band_width"))
      .orderBy("event_type")
  }

  /** q278 — QUANTILE-SHIFT (QQ) drift profile: per event type, the
    * decile-by-decile value shift between the q151/q234 SHARED time
    * halves — the WHERE-and-HOW-MUCH companion to the verdict-style
    * monitors: PSI (q151) reports binned mass movement, KS (q234) the
    * single worst CDF gap; this reports, in value units, which part
    * of the distribution moved (a tail-only shift and a uniform shift
    * can produce the SAME KS statistic and demand different
    * responses). Same data-derived midpoint cut, so all three
    * monitors read one experiment.
    *
    * Exactness: exact interpolated percentiles per (type, half) over
    * the shared scan (engine-identical, the q56/q151 precedent);
    * shifts are single subtractions/divisions of the shared doubles,
    * rounded once, mirrored verbatim. */
  def q278QuantileDrift(spark: SparkSession, dir: String): DataFrame = {
    val qs = psiFlagged(spark, dir).groupBy("event_type", "is_ref")
      .agg(expr(s"percentile(value, array(${DecileProbes.mkString(", ")}))")
        .as("q"))
    qs.select(col("event_type"), col("is_ref"),
        posexplode(col("q")).as(Seq("i", "qv")))
      .groupBy("event_type", "i")
      .agg(max(when(col("is_ref"), col("qv"))).as("refv"),
        max(when(!col("is_ref"), col("qv"))).as("curv"))
      .select(col("event_type"), ((col("i") + 1) * 10).as("probe_pct"),
        round(col("refv"), 6).as("ref_value"),
        round(col("curv"), 6).as("cur_value"),
        round(col("curv") - col("refv"), 6).as("shift"),
        when(col("refv") =!= 0.0,
          round((col("curv") - col("refv")) / col("refv"), 6))
          .as("shift_pct"))
      .orderBy("event_type", "probe_pct")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q334_dkw_median_band", q334DkwMedianBand _,
      s"""WITH ev AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |hist AS (
        |  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, c,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c)
        |           AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n
        |  FROM hist),
        |bands AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |         min(CASE WHEN CAST(cum AS DOUBLE) >=
        |               (0.5 - sqrt($DkwLn40 / (2.0 * n))) * n
        |             THEN c END) AS lo_c,
        |         min(CASE WHEN CAST(cum AS DOUBLE) >=
        |               (0.5 + sqrt($DkwLn40 / (2.0 * n))) * n
        |             THEN c END) AS hi_c
        |  FROM cum GROUP BY 1),
        |med AS (
        |  SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM ev GROUP BY 1)
        |SELECT b.event_type, b.n,
        |       round(m.med / 100, 4) AS median_value,
        |       round(CAST(b.lo_c AS DOUBLE) / 100, 2) AS band_lo,
        |       round(CAST(b.hi_c AS DOUBLE) / 100, 2) AS band_hi,
        |       round(CAST(b.hi_c - b.lo_c AS DOUBLE) / 100, 2)
        |         AS band_width
        |FROM bands b JOIN med m USING (event_type)
        |ORDER BY b.event_type""".stripMargin),
    QueryDef("q234_ks_drift", q234KsDrift _,
      s"""WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |flagged AS (
        |  SELECT event_type, value, us < (SELECT cut FROM cut) AS is_ref
        |  FROM ev),
        |edges AS (
        |  SELECT list_transform(
        |           quantile_cont(value, [${DecileProbes.mkString(", ")}]),
        |           e -> round(e, 6)) AS edges
        |  FROM flagged WHERE is_ref),
        |buckets AS (
        |  SELECT event_type,
        |         len(list_filter((SELECT edges FROM edges),
        |                         e -> value >= e)) AS bucket,
        |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |           AS nr,
        |         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |           AS nc
        |  FROM flagged GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |         CAST(sum(nr) OVER (PARTITION BY event_type ORDER BY bucket)
        |              AS BIGINT) AS cr,
        |         CAST(sum(nc) OVER (PARTITION BY event_type ORDER BY bucket)
        |              AS BIGINT) AS cc,
        |         CAST(sum(nr) OVER (PARTITION BY event_type) AS BIGINT) AS tr,
        |         CAST(sum(nc) OVER (PARTITION BY event_type) AS BIGINT) AS tc
        |  FROM buckets),
        |per_type AS (
        |  SELECT event_type,
        |         CAST(max(tr) AS BIGINT) AS n_ref,
        |         CAST(max(tc) AS BIGINT) AS n_cur,
        |         round(max(abs(CAST(cr AS DOUBLE) / CAST(tr AS DOUBLE)
        |                       - CAST(cc AS DOUBLE) / CAST(tc AS DOUBLE))), 6)
        |           AS ks_stat
        |  FROM cum GROUP BY 1)
        |SELECT event_type, n_ref, n_cur, ks_stat,
        |       round($KsCoeff05 * sqrt(
        |         CAST(n_ref + n_cur AS DOUBLE)
        |         / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))), 6)
        |         AS d_crit,
        |       CASE WHEN ks_stat > round($KsCoeff05 * sqrt(
        |              CAST(n_ref + n_cur AS DOUBLE)
        |              / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))), 6)
        |            THEN 'drifted' ELSE 'stable' END AS verdict
        |FROM per_type ORDER BY event_type""".stripMargin),
    QueryDef("q151_psi_drift", q151PsiDrift _,
      s"""WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |flagged AS (
        |  SELECT event_type, value, us < (SELECT cut FROM cut) AS is_ref
        |  FROM ev),
        |counts AS (
        |  SELECT CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_ref,
        |         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_cur
        |  FROM flagged),
        |edges AS (
        |  SELECT list_transform(
        |           quantile_cont(value, [${DecileProbes.mkString(", ")}]),
        |           e -> round(e, 6)) AS edges
        |  FROM flagged WHERE is_ref),
        |vb AS (
        |  SELECT is_ref,
        |         len(list_filter((SELECT edges FROM edges),
        |                         e -> value >= e)) AS bucket,
        |         count(*) AS n
        |  FROM flagged GROUP BY 1, 2),
        |vj AS (
        |  SELECT COALESCE(r.n, 0) AS nr, COALESCE(c.n, 0) AS nc
        |  FROM (SELECT bucket, n FROM vb WHERE is_ref) r
        |  FULL OUTER JOIN (SELECT bucket, n FROM vb WHERE NOT is_ref) c
        |    USING (bucket)),
        |vpsi AS (
        |  SELECT round(sum(
        |           ((nc + 1.0) / ((SELECT sum(nc) FROM vj) + (SELECT count(*) FROM vj))
        |            - (nr + 1.0) / ((SELECT sum(nr) FROM vj) + (SELECT count(*) FROM vj)))
        |           * ln(((nc + 1.0) / ((SELECT sum(nc) FROM vj) + (SELECT count(*) FROM vj)))
        |                / ((nr + 1.0) / ((SELECT sum(nr) FROM vj) + (SELECT count(*) FROM vj))))),
        |         6) AS psi
        |  FROM vj),
        |tb AS (
        |  SELECT is_ref, event_type AS bucket, count(*) AS n
        |  FROM flagged GROUP BY 1, 2),
        |tj AS (
        |  SELECT COALESCE(r.n, 0) AS nr, COALESCE(c.n, 0) AS nc
        |  FROM (SELECT bucket, n FROM tb WHERE is_ref) r
        |  FULL OUTER JOIN (SELECT bucket, n FROM tb WHERE NOT is_ref) c
        |    USING (bucket)),
        |tpsi AS (
        |  SELECT round(sum(
        |           ((nc + 1.0) / ((SELECT sum(nc) FROM tj) + (SELECT count(*) FROM tj))
        |            - (nr + 1.0) / ((SELECT sum(nr) FROM tj) + (SELECT count(*) FROM tj)))
        |           * ln(((nc + 1.0) / ((SELECT sum(nc) FROM tj) + (SELECT count(*) FROM tj)))
        |                / ((nr + 1.0) / ((SELECT sum(nr) FROM tj) + (SELECT count(*) FROM tj))))),
        |         6) AS psi
        |  FROM tj)
        |SELECT feature, psi,
        |       CASE WHEN psi < 0.1 THEN 'stable'
        |            WHEN psi < 0.25 THEN 'moderate'
        |            ELSE 'drifted' END AS verdict,
        |       (SELECT n_ref FROM counts) AS n_ref,
        |       (SELECT n_cur FROM counts) AS n_cur
        |FROM (SELECT 'event_type' AS feature, psi FROM tpsi
        |      UNION ALL SELECT 'value', psi FROM vpsi)
        |ORDER BY feature""".stripMargin),
    QueryDef("q298_wasserstein_drift", q298WassersteinDrift _,
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |hist AS (
        |  SELECT event_type, c,
        |         CAST(sum(CASE WHEN us < (SELECT cut FROM cut)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |         CAST(sum(CASE WHEN us >= (SELECT cut FROM cut)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM ev GROUP BY 1, 2),
        |terms AS (
        |  SELECT event_type,
        |         CAST(sum(nr) OVER wt AS BIGINT) AS n_ref,
        |         CAST(sum(nc) OVER wt AS BIGINT) AS n_cur,
        |         CAST(round(abs(CAST(sum(nr) OVER wc AS DOUBLE)
        |                        / CAST(sum(nr) OVER wt AS DOUBLE)
        |                        - CAST(sum(nc) OVER wc AS DOUBLE)
        |                          / CAST(sum(nc) OVER wt AS DOUBLE))
        |                    * CAST(COALESCE(lead(c, 1) OVER wc, c) - c
        |                           AS DOUBLE)
        |                    * 1000000, 0) AS BIGINT) AS term_mu
        |  FROM hist
        |  WINDOW wc AS (PARTITION BY event_type ORDER BY c),
        |         wt AS (PARTITION BY event_type))
        |SELECT event_type,
        |       max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |       round(CAST(sum(term_mu) AS DOUBLE) / 1000000 / 100, 6)
        |         AS w1_value
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q305_priority_drift", q305PriorityDrift _,
      """WITH ord AS (
        |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
        |         o_orderpriority AS priority
        |  FROM orders),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ord),
        |prof AS (
        |  SELECT priority,
        |         CAST(sum(CASE WHEN us < (SELECT cut FROM cut)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN us >= (SELECT cut FROM cut)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM ord GROUP BY 1),
        |tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
        |               CAST(sum(n2) AS BIGINT) AS t2 FROM prof),
        |tv AS (
        |  SELECT CAST(sum(abs(n1 * t.t2 - n2 * t.t1)) AS DOUBLE)
        |         / (2.0 * CAST(t.t1 AS DOUBLE) * CAST(t.t2 AS DOUBLE))
        |           AS tv
        |  FROM prof, tot t GROUP BY t.t1, t.t2)
        |SELECT p.priority, p.n1, p.n2,
        |       round(CAST(p.n1 AS DOUBLE) / t.t1, 6) AS share_first,
        |       round(CAST(p.n2 AS DOUBLE) / t.t2, 6) AS share_second,
        |       round(CAST(p.n2 AS DOUBLE) / t.t2
        |             - CAST(p.n1 AS DOUBLE) / t.t1, 6) AS delta,
        |       round(v.tv, 6) AS tv_distance
        |FROM prof p, tot t, tv v
        |ORDER BY p.priority""".stripMargin),
    QueryDef("q278_quantile_drift", q278QuantileDrift _,
      s"""WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |flagged AS (
        |  SELECT event_type, value, us < (SELECT cut FROM cut) AS is_ref
        |  FROM ev),
        |qs AS (
        |  SELECT event_type, is_ref,
        |         quantile_cont(value, [${DecileProbes.mkString(", ")}])
        |           AS q
        |  FROM flagged GROUP BY 1, 2),
        |probes AS (
        |  SELECT event_type, is_ref, i, q[i] AS qv
        |  FROM (SELECT event_type, is_ref, q,
        |               unnest(generate_series(1, len(q))) AS i
        |        FROM qs)),
        |cells AS (
        |  SELECT event_type, i,
        |         max(CASE WHEN is_ref THEN qv END) AS refv,
        |         max(CASE WHEN NOT is_ref THEN qv END) AS curv
        |  FROM probes GROUP BY 1, 2)
        |SELECT event_type, CAST(i * 10 AS INTEGER) AS probe_pct,
        |       round(refv, 6) AS ref_value, round(curv, 6) AS cur_value,
        |       round(curv - refv, 6) AS shift,
        |       CASE WHEN refv <> 0.0
        |            THEN round((curv - refv) / refv, 6) END AS shift_pct
        |FROM cells ORDER BY event_type, probe_pct""".stripMargin))
}
