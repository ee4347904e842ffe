package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] second ranking/effect-size evaluation family (q262, q264,
  * q267): exact average precision (the PR-curve companion to q205's
  * ROC-AUC), Cliff's delta ordinal effect size between A/B arms (the
  * nonparametric companion to q165's Welch readout), and Kendall's
  * tau-b rank agreement between two group-level rankings (the ordinal
  * companion to q57's Pearson r).
  *
  * Shared exactness discipline (the q205/q169 rules): every statistic
  * folds exact BIGINT counts; ratios are single correctly-rounded
  * divisions of < 2^53 integers with the parenthesization mirrored
  * verbatim in the DuckDB oracle; per-row float terms are quantized to
  * BIGINT micro-units BEFORE any cross-row sum; `sqrt` of exact
  * integers is correctly rounded in both engines (the blessed q123
  * class — `pow()` never appears). Windows run over profile tables
  * (distinct-score / user-grain / nation-grain), never raw facts.
  */
object Evaluation2 {

  /** q262 — EXACT AVERAGE PRECISION (step-interpolated area under the
    * precision-recall curve) of per-user spend vs the q205 purchaser
    * label: the class-imbalance-honest companion to ROC-AUC — under
    * heavy imbalance ROC-AUC stays optimistic (it credits ranking the
    * sea of true negatives low) while AP only rewards precision where
    * positives actually surface. Run together with q205, the pair
    * answers "does the score rank well, and does it rank well WHERE IT
    * MATTERS?".
    *
    * Exactness: thresholds are the DISTINCT scores descending. With
    * cumulative TP_i / All_i through threshold i and pos_i positives
    * AT it, step AP = Σ_i (pos_i / P) · (TP_i / All_i) — each term an
    * exact-integer ratio (pos_i·TP_i) / (P·All_i), quantized to micro
    * units per THRESHOLD row before the fold (numerators ≤ users², far
    * under 2^53). The one window is descending-cumulative over the
    * distinct-score profile (≤ users rows — the q205 grant class).
    * Degenerate single-class labels report NULL, as q205 does. */
  def q262PrAuc(spark: SparkSession, dir: String): DataFrame = {
    val byScore = Evaluation.scoredUsers(spark, dir)
      .groupBy("cents")
      .agg(sum(col("label")).as("pos"),
        sum(lit(1L) - col("label")).as("neg"))
    // both cumulatives ride ONE distributed prefix-sum pass over the
    // distinct-score profile (it grows with users — no single-task
    // window); totals ride as a broadcast scalar
    val totals = broadcast(byScore.agg(sum(col("pos")).as("n_pos"),
      sum(col("neg")).as("n_neg"),
      count(lit(1)).as("n_thresholds")))
    val cum = DistributedRank.withRunningTotals(
        byScore.withColumn("all", col("pos") + col("neg")),
        Seq("pos" -> "cum_tp", "all" -> "cum_all"), col("cents").desc)
      .crossJoin(totals)
      .select(col("pos"), col("neg"), col("cum_tp"), col("cum_all"),
        col("n_pos"), col("n_neg"), col("n_thresholds"))
    cum
      .select(col("n_pos"), col("n_neg"), col("n_thresholds"),
        when(col("n_pos") > 0, expr(
          "cast(round(cast(pos * cum_tp as double) * 1e6 /" +
            " cast(n_pos * cum_all as double), 0) as bigint)"))
          .as("term_micro"))
      .groupBy("n_pos", "n_neg", "n_thresholds")
      .agg(round(sum(col("term_micro")).cast("double") / 1e6, 6)
        .as("ap"))
      .select(col("n_pos"), col("n_neg"), col("n_thresholds"),
        round(col("n_pos").cast("double") / (col("n_pos") + col("n_neg")),
          6).as("prevalence"),
        col("ap"))
  }

  /** q264 — CLIFF'S DELTA ordinal effect size between the q165 A/B
    * arms, per event type, on per-user type-level spend: δ = (#(a>b)
    * − #(a<b)) / (n_a·n_b) — "how often does a random A user outspend
    * a random B user?", the effect-size readout a Welch t cannot give
    * (significance ≠ size) and the one that survives heavy-tailed
    * spend where means mislead. Same deterministic arm hash as q165,
    * so the two queries audit the SAME experiment.
    *
    * Exactness: pair counts fold WITHOUT pairwise joins — group users
    * by DISTINCT spend cents per type, cumulate the B-arm counts below
    * each value (one window over the user-grain value profile,
    * partitioned by type), then #(a>b) = Σ_v a_v·cumB_below(v) and
    * #(a<b) = Σ_v a_v·cumB_above(v), every term an exact BIGINT
    * (products ≤ users² < 2^53). δ is ONE division; the magnitude
    * class compares the ROUNDED δ against Romano's 0.147/0.33/0.474
    * cuts, so both engines classify identical values. */
  def q264CliffsDelta(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        col("user_id"),
        (pmod(Hashing.md5Hash60(concat(lit("arm:"), col("user_id"))),
          lit(2)) === 0).as("in_a"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
    val byVal = perUser.groupBy("event_type", "cents")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b"))
    val wBelow = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("event_type")
    val terms = byVal
      .withColumn("cumb_below",
        coalesce(sum(col("b")).over(wBelow), lit(0L)))
      .withColumn("tot_b", sum(col("b")).over(wAll))
      .withColumn("cumb_above",
        col("tot_b") - col("cumb_below") - col("b"))
    val folded = terms.groupBy("event_type")
      .agg(sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("a") * col("cumb_below")).as("gt_pairs"),
        sum(col("a") * col("cumb_above")).as("lt_pairs"))
      .withColumn("delta",
        round((col("gt_pairs") - col("lt_pairs")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6))
    folded
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("gt_pairs"), col("lt_pairs"), col("delta"),
        when(abs(col("delta")) >= 0.474, "large")
          .when(abs(col("delta")) >= 0.33, "medium")
          .when(abs(col("delta")) >= 0.147, "small")
          .otherwise("negligible").as("magnitude"))
      .orderBy("event_type")
  }

  /** q267 — KENDALL'S TAU-B rank agreement between the revenue
    * ranking and the active-customer-count ranking of nations: "do
    * the two league tables tell the same story?" — the ordinal
    * complement to q57's Pearson r (which a single whale nation can
    * saturate) and the SINGLE-number summary where q260's RBO reports
    * a depth curve (RBO is top-weighted and list-based; tau-b weighs
    * every pair equally and handles ties by construction).
    *
    * Exactness: the profile is nation-grain (≤ |nations| rows — exact
    * revenue cents + exact distinct-customer counts), so ALL pairs are
    * enumerable: the i<j self-join is a broadcast nested loop over a
    * dimension-bounded profile (documented in
    * [[graft.PlanContract.BnljAllow]]), C/D/tie counts are exact
    * BIGINTs, and tau-b = (C−D)/√((T0−Tx)·(T0−Ty)) is one division by
    * one blessed `sqrt` of an exact integer product. */
  def q267KendallTau(spark: SparkSession, dir: String): DataFrame = {
    val profile = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").as("nation")),
        Seq("o_custkey"))
      .groupBy("nation")
      .agg(sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
        .as("x"),
        countDistinct(col("o_custkey")).as("y"))
    val p1 = profile.select(col("nation").as("n1"), col("x").as("x1"),
      col("y").as("y1"))
    val p2 = profile.select(col("nation").as("n2"), col("x").as("x2"),
      col("y").as("y2"))
    val pairs = p1.join(broadcast(p2), col("n1") < col("n2"))
      .select(
        when(col("x1") === col("x2"), 1L).otherwise(0L).as("tie_x"),
        when(col("y1") === col("y2"), 1L).otherwise(0L).as("tie_y"),
        when(col("x1") =!= col("x2") && col("y1") =!= col("y2") &&
          ((col("x1") < col("x2")) === (col("y1") < col("y2"))), 1L)
          .otherwise(0L).as("conc"),
        when(col("x1") =!= col("x2") && col("y1") =!= col("y2") &&
          ((col("x1") < col("x2")) =!= (col("y1") < col("y2"))), 1L)
          .otherwise(0L).as("disc"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(col("conc")).as("concordant"),
        sum(col("disc")).as("discordant"),
        sum(col("tie_x")).as("ties_x"),
        sum(col("tie_y")).as("ties_y"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        when((col("n_pairs") - col("ties_x")) *
          (col("n_pairs") - col("ties_y")) > 0,
          round((col("concordant") - col("discordant")).cast("double") /
            sqrt(((col("n_pairs") - col("ties_x")) *
              (col("n_pairs") - col("ties_y"))).cast("double")), 6))
          .as("tau_b"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q262_pr_auc", q262PrAuc _,
      """WITH pu AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents,
        |         CAST(sum(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS pcnt
        |  FROM events GROUP BY 1),
        |med AS (SELECT quantile_cont(CAST(pcnt AS DOUBLE), 0.5) AS m
        |        FROM pu),
        |scored AS (
        |  SELECT cents,
        |         CASE WHEN pcnt > (SELECT m FROM med)
        |              THEN 1 ELSE 0 END AS label
        |  FROM pu),
        |by_score AS (
        |  SELECT cents, CAST(sum(label) AS BIGINT) AS pos,
        |         CAST(sum(1 - label) AS BIGINT) AS neg
        |  FROM scored GROUP BY 1),
        |cum AS (
        |  SELECT pos, neg,
        |         CAST(sum(pos) OVER (ORDER BY cents DESC
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp,
        |         CAST(sum(pos + neg) OVER (ORDER BY cents DESC
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
        |  FROM by_score),
        |tot AS (
        |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
        |         CAST(sum(neg) AS BIGINT) AS n_neg,
        |         CAST(count(*) AS BIGINT) AS n_thresholds
        |  FROM cum)
        |SELECT t.n_pos, t.n_neg, t.n_thresholds,
        |       round(CAST(t.n_pos AS DOUBLE) / (t.n_pos + t.n_neg), 6)
        |         AS prevalence,
        |       round(CAST(sum(CASE WHEN t.n_pos > 0 THEN
        |           CAST(round(CAST(c.pos * c.cum_tp AS DOUBLE) * 1e6 /
        |             CAST(t.n_pos * c.cum_all AS DOUBLE), 0) AS BIGINT)
        |         END) AS DOUBLE) / 1e6, 6) AS ap
        |FROM cum c CROSS JOIN tot t
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryDef("q264_cliffs_delta", q264CliffsDelta _,
      """WITH pu AS (
        |  SELECT event_type,
        |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
        |           % 2 = 0 AS in_a,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM events GROUP BY event_type, user_id, 2),
        |by_val AS (
        |  SELECT event_type, cents,
        |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS a,
        |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
        |           AS b
        |  FROM pu GROUP BY 1, 2),
        |terms AS (
        |  SELECT event_type, a, b,
        |         CAST(coalesce(sum(b) OVER (PARTITION BY event_type
        |           ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND
        |           1 PRECEDING), 0) AS BIGINT) AS cumb_below,
        |         CAST(sum(b) OVER (PARTITION BY event_type)
        |           AS BIGINT) AS tot_b
        |  FROM by_val),
        |folded AS (
        |  SELECT event_type,
        |         CAST(sum(a) AS BIGINT) AS n_a,
        |         CAST(sum(b) AS BIGINT) AS n_b,
        |         CAST(sum(a * cumb_below) AS BIGINT) AS gt_pairs,
        |         CAST(sum(a * (tot_b - cumb_below - b)) AS BIGINT)
        |           AS lt_pairs
        |  FROM terms GROUP BY 1),
        |scored AS (
        |  SELECT event_type, n_a, n_b, gt_pairs, lt_pairs,
        |         round(CAST(gt_pairs - lt_pairs AS DOUBLE) /
        |               CAST(n_a * n_b AS DOUBLE), 6) AS delta
        |  FROM folded)
        |SELECT event_type, n_a, n_b, gt_pairs, lt_pairs, delta,
        |       CASE WHEN abs(delta) >= 0.474 THEN 'large'
        |            WHEN abs(delta) >= 0.33 THEN 'medium'
        |            WHEN abs(delta) >= 0.147 THEN 'small'
        |            ELSE 'negligible' END AS magnitude
        |FROM scored ORDER BY event_type""".stripMargin),
    QueryDef("q267_kendall_tau", q267KendallTau _,
      """WITH profile AS (
        |  SELECT c.c_nationkey AS nation,
        |         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS x,
        |         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS y
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT CASE WHEN p1.x = p2.x THEN 1 ELSE 0 END AS tie_x,
        |         CASE WHEN p1.y = p2.y THEN 1 ELSE 0 END AS tie_y,
        |         CASE WHEN p1.x <> p2.x AND p1.y <> p2.y AND
        |                   ((p1.x < p2.x) = (p1.y < p2.y))
        |              THEN 1 ELSE 0 END AS conc,
        |         CASE WHEN p1.x <> p2.x AND p1.y <> p2.y AND
        |                   ((p1.x < p2.x) <> (p1.y < p2.y))
        |              THEN 1 ELSE 0 END AS disc
        |  FROM profile p1 JOIN profile p2 ON p1.nation < p2.nation),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(conc) AS BIGINT) AS concordant,
        |         CAST(sum(disc) AS BIGINT) AS discordant,
        |         CAST(sum(tie_x) AS BIGINT) AS ties_x,
        |         CAST(sum(tie_y) AS BIGINT) AS ties_y
        |  FROM pairs)
        |SELECT n_pairs, concordant, discordant, ties_x, ties_y,
        |       CASE WHEN (n_pairs - ties_x) * (n_pairs - ties_y) > 0
        |            THEN round(CAST(concordant - discordant AS DOUBLE) /
        |              sqrt(CAST((n_pairs - ties_x) * (n_pairs - ties_y)
        |                AS DOUBLE)), 6)
        |       END AS tau_b
        |FROM agg""".stripMargin))
}
