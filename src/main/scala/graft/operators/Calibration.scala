package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] score calibration across sources (q168) — quantile
  * normalization: map every document's quality score onto the GLOBAL
  * score distribution through its within-source percentile. The
  * problem it solves is real and specific: per-source score
  * distributions differ (a "0.8" from a clean source ≠ a "0.8" from a
  * noisy one), so a single global threshold over raw scores silently
  * over-keeps some sources — q121 fixed that with per-source
  * THRESHOLDS; quantile normalization goes further and rescales the
  * whole distribution, after which one global policy applies uniformly
  * (the cross-source calibration step before q130's budgeted
  * selection).
  *
  * Exactness: within-source percentile is pure integer rank
  * arithmetic ((r−1)·G div/mod (n_s−1)); the global calibration curve
  * is a 1001-point exact type-7 quantile grid (Spark `percentile` ==
  * DuckDB `quantile_cont`, the q116/q121 proven pairing) rounded once
  * to 6dp; the interpolation between grid points is one fixed
  * expression over exact integers and rounded grid values —
  * bit-identical cross-engine. Scale: the grid is ONE aggregate
  * broadcast everywhere (a 1001-double table regardless of corpus
  * size; `approx_percentile` is the documented 100 TB drop-in, q116's
  * note); ranking is one window hash-partitioned by source. */
object Calibration {

  /** Calibration grid intervals (grid points = G + 1). */
  private[graft] val G = 1000

  /** q168 — per document: source, raw quality (q39's formula), and the
    * quantile-normalized score. */
  def q168QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    // q39's occ helper verbatim — the score must BE q39's score
    def occ(c: String, pat: String) =
      ((length(col(c)) - length(expr(s"replace($c, '$pat', '')")))
        / pat.length).cast("int")
    val scored = Tables.documents(spark, dir)
      .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_words", size(split(trim(col("text")), " ")))
      .withColumn("n_stop", occ("padded", " the ") + occ("padded", " a "))
      .select(col("doc_id"), col("source"),
        round(log(lit(1.0) + col("n_words"))
          * (lit(1.0) - col("n_stop").cast("double") / col("n_words")), 6)
          .as("quality"))
    val w = Window.partitionBy("source").orderBy("quality", "doc_id")
    val ranked = scored
      .withColumn("rk", row_number().over(w))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
    // percentile's probe array must be FOLDABLE — build it as a literal
    val probes = (0 to G).map(i => i.toDouble / G).mkString(", ")
    val grid = scored.agg(expr(
      s"transform(percentile(quality, array($probes)), x -> round(x, 6))")
      .as("g"))
    ranked.crossJoin(broadcast(grid))
      .withColumn("num", (col("rk") - 1) * G)
      .withColumn("den", col("ns") - 1)
      .withColumn("i",
        when(col("den") === 0, lit(0L)).otherwise(expr("num div den")))
      .withColumn("rem",
        when(col("den") === 0, lit(0L)).otherwise(expr("num % den")))
      .select(col("doc_id"), col("source"), col("quality"),
        round(
          element_at(col("g"), col("i").cast("int") + 1) +
            when(col("rem") > 0,
              (col("rem").cast("double") / col("den")) *
                (element_at(col("g"), col("i").cast("int") + 2) -
                  element_at(col("g"), col("i").cast("int") + 1)))
              .otherwise(lit(0.0)), 6).as("calibrated"))
      .orderBy("doc_id")
  }

  /** Quantization clip percentile for q169: coordinates beyond the
    * |x| p99.9 clip to ±127 (the standard calibration trade — a wider
    * scale wastes precision on outliers, a narrower one clips). */
  private[graft] val ClipP = 0.999

  /** q169 — int8 symmetric quantization calibration of the embedding
    * corpus: scale = p99.9(|x|) (exact percentile, q116's pairing,
    * rounded once to 6dp), q = clamp(round(x/scale·127)) — the 4×
    * compression serving tier between full floats and q113's 64× PQ.
    * The audit row a deployment watches: clip rate and reconstruction
    * MSE.
    *
    * Determinism: round-to-int is floor(y + 0.5) in BOTH engines —
    * library round() is exactly the operation q154 proved
    * engine-divergent on boundary values, floor is exact on every
    * double; the reconstruction error is micro-quantized to an exact
    * BIGINT (floor(err·10⁶ + 0.5)) before squaring/summing, so the MSE
    * fold is order-free integer math. Scale: one percentile aggregate
    * broadcast (approx_percentile the 100 TB drop-in), one narrow
    * pass; output is one row. */
  def q169Int8Calibrate(spark: SparkSession, dir: String): DataFrame = {
    val coords = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
      .select(col("xf").cast("double").as("x"))
    val scaleDf = coords.agg(
      expr(s"round(percentile(abs(x), ${ClipP}D), 6)").as("scale"),
      count(lit(1)).as("n_coords"))
    val n = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vectors"),
        max(size(col("embedding"))).as("dim"))
    coords.crossJoin(broadcast(scaleDf))
      .withColumn("yq", expr("floor(x / scale * 127 + 0.5D)"))
      .withColumn("q", least(greatest(col("yq"), lit(-127.0)), lit(127.0)))
      .withColumn("e6",
        expr("cast(floor((x - q * scale / 127) * 1000000 + 0.5D) as bigint)"))
      .agg(min(col("scale")).as("scale"),
        min(col("n_coords")).as("n_coords"),
        sum(when(col("yq") =!= col("q"), 1L).otherwise(0L)).as("n_clipped"),
        sum(col("e6") * col("e6")).as("sse_micro2"))
      .crossJoin(broadcast(n))
      .select(col("n_vectors"), col("dim"), col("scale"), col("n_clipped"),
        round((col("n_clipped").cast("double") / col("n_coords")), 6)
          .as("clip_rate"),
        round(col("sse_micro2").cast("double") / col("n_coords") / 1e12, 9)
          .as("mse"))
  }

  /** q218 coverage target 1 − α = [[ConfNum]]/[[ConfDen]] (α = 0.1). */
  private[graft] val ConfNum = 9L
  private[graft] val ConfDen = 10L

  /** q218 — SPLIT-CONFORMAL calibration (distribution-free prediction
    * intervals — Vovk et al.'s conformal prediction, the standard
    * post-hoc uncertainty wrapper for any point model): hash-split the
    * data into calibration/evaluation halves, fit a trivial per-group
    * model on calibration (the segment mean), take each calibration
    * row's nonconformity score (absolute residual), and set the
    * interval radius to the ⌈(n+1)(1−α)⌉-th smallest calibration score
    * — the finite-sample quantile that guarantees ≥ 1−α coverage on
    * exchangeable data. The evaluation half then audits realized
    * coverage.
    *
    * Determinism: residuals are kept in SCALED integer units
    * (|cents·n_cal − sum_cents| — the residual vs the mean times
    * n_cal), so scores, ranks, the selected threshold, and every
    * coverage comparison are exact integers; the only doubles are the
    * two final single-division ratios. The rank is selected with a
    * full (score, key) tie-break.
    *
    * Scale shape: model comes from ONE grouped fold; the per-segment
    * threshold is DISTRIBUTED SELECTION (VERDICT r10 #6) — a global
    * ordinal over the total order (seg, r, k) via [[DistributedRank]]
    * (range-partition + zipWithIndex, every partition a bounded key
    * range at any dimension size), converted to a per-segment rank by
    * subtracting each segment's min ordinal (one broadcast join on
    * the enum-sized segment profile). The segment-partitioned rank
    * window this replaces held a full segment per task — linear in
    * the customer dimension (measured ~1.4× at 10× dims in r10's
    * docs/SCALE.md). Coverage is a second grouped fold; output is
    * |segments| rows. */
  def q218ConformalThreshold(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val base = Tables.customer(spark, dir).select(
        col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        expr("cast(round(c_acctbal * 100, 0) as bigint)").as("cents"))
      .withColumn("is_cal",
        Hashing.md5Hash60(concat(lit("conf:"), col("k"))) % 2 === 0)
    val model = base.filter(col("is_cal")).groupBy("seg")
      .agg(count(lit(1)).as("n_cal"), sum(col("cents")).as("sum_cents"))
    val scored = base.join(model, Seq("seg"))
      .withColumn("r", abs(col("cents") * col("n_cal") - col("sum_cents")))
      .withColumn("m_rank",
        expr(s"((n_cal + 1) * $ConfNum + ${ConfDen - 1}) div $ConfDen"))
    val indexed = DistributedRank.withGlobalRank(
      scored.filter(col("is_cal"))
        .select("seg", "k", "r", "m_rank"),
      "ord", col("seg"), col("r"), col("k"))
    val segBase = indexed.groupBy("seg").agg(min(col("ord")).as("base"))
    val thr = indexed.join(broadcast(segBase), Seq("seg"))
      .filter(col("ord") - col("base") + 1L === col("m_rank"))
      .select(col("seg"), col("r").as("thr_scaled"))
    scored.filter(!col("is_cal"))
      .join(thr, Seq("seg"))
      .groupBy(col("seg"), col("n_cal"), col("m_rank"), col("thr_scaled"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("r") <= col("thr_scaled"), 1L).otherwise(0L))
          .as("covered"))
      .select(col("seg"), col("n_cal"), col("n_eval"), col("m_rank"),
        col("thr_scaled"),
        round(col("covered").cast("double") / col("n_eval"), 6)
          .as("coverage"),
        (col("covered") * ConfDen >= col("n_eval") * ConfNum)
          .as("meets_target"))
      .orderBy("seg")
  }

  /** Bin count for the q237 isotonic fit (score deciles). */
  private[graft] val IsoBins = 10

  /** q237 — ISOTONIC (PAV) CALIBRATION of the spend-score deciles:
    * fit the best MONOTONE-nondecreasing positive-rate curve over the
    * q205/q213 score bins (ascending score ntile) via the closed-form
    * minimax characterization of pool-adjacent-violators,
    *   iso(k) = max_{i≤k} min_{j≥k} (P_j − P_{i−1}) / (N_j − N_{i−1})
    * — the standard distribution-free post-hoc calibrator (Zadrozny &
    * Elkan; see PAPERS.md): q213 SHOWS where the raw curve inverts,
    * this REPAIRS it into the calibrated map a deployed gate actually
    * uses. The minimax form replaces the sequential pool-merge loop
    * with pure joins, so the plan is static (no iteration).
    *
    * Exactness: bin cells and prefix sums are exact BIGINTs (prefix
    * windows over the [[IsoBins]]-row profile); every pooled rate is
    * ONE division of exact integers; min/max over identical doubles
    * are selections. The i≤k / j≥k expansions are ≤ bins³ rows of a
    * bins-row table — BnljAllow-granted, structurally bounded by the
    * bin count, never by users.
    *
    * Scale shape: one user-grain fold + one
    * [[DistributedRank.withNtile]] over the user profile (range-
    * partitioned, no global window even as users grow); ALL isotonic
    * arithmetic runs on the 10-row bin table, whose prefix sums fold
    * through one collect_list (the q359 ledger pattern) instead of a
    * prefix window — the registered plan is globally window-free. */
  def q237IsotonicCalibrate(spark: SparkSession, dir: String): DataFrame = {
    val users = Evaluation.scoredUsers(spark, dir)
    val bins = DistributedRank.withNtile(users, IsoBins, "bin",
        col("cents").asc, col("user_id").asc)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_users"), sum(col("label")).as("n_pos"))
    val pre = bins
      .agg(expr("array_sort(collect_list(struct(bin, n_users, n_pos)))")
        .as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.bin AS bin, s.n_users AS n_users, s.n_pos AS n_pos,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.n_pos) AS cp,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.n_users) AS cn)))"""
          .stripMargin))
    val starts = pre.select(col("bin").as("i"),
      (col("cp") - col("n_pos")).as("cp_lo"),
      (col("cn") - col("n_users")).as("cn_lo"))
    val ends = pre.select(col("bin").as("j"), col("cp").as("cp_hi"),
      col("cn").as("cn_hi"))
    val pooled = starts.join(ends, col("i") <= col("j"))
      .withColumn("rate", (col("cp_hi") - col("cp_lo")).cast("double") /
        (col("cn_hi") - col("cn_lo")).cast("double"))
    val ks = pre.select(col("bin").as("k"))
    val inner = ks.join(pooled, col("i") <= col("k") && col("j") >= col("k"))
      .groupBy("k", "i").agg(min(col("rate")).as("min_rate"))
      .groupBy("k").agg(max(col("min_rate")).as("iso_rate"))
    bins.join(inner, col("bin") === col("k"))
      .select(col("bin"), col("n_users"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n_users"), 6)
          .as("raw_rate"),
        round(col("iso_rate"), 6).as("iso_rate"))
      .orderBy("bin")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q237_isotonic_calibrate", q237IsotonicCalibrate _,
      s"""WITH ${Evaluation.labeledUsersCtes},
        |bins AS (
        |  SELECT bin, count(*) AS n_users,
        |         CAST(sum(label) AS BIGINT) AS n_pos
        |  FROM (SELECT CAST(ntile($IsoBins) OVER (ORDER BY cents, user_id)
        |                    AS INTEGER) AS bin, label
        |        FROM users)
        |  GROUP BY 1),
        |pre AS (
        |  SELECT bin, n_users, n_pos,
        |         CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp,
        |         CAST(sum(n_users) OVER (ORDER BY bin) AS BIGINT) AS cn
        |  FROM bins),
        |pooled AS (
        |  SELECT s.i, e.j,
        |         CAST(e.cp_hi - s.cp_lo AS DOUBLE)
        |           / CAST(e.cn_hi - s.cn_lo AS DOUBLE) AS rate
        |  FROM (SELECT bin AS i, cp - n_pos AS cp_lo,
        |               cn - n_users AS cn_lo FROM pre) s
        |  JOIN (SELECT bin AS j, cp AS cp_hi, cn AS cn_hi FROM pre) e
        |    ON s.i <= e.j),
        |iso AS (
        |  SELECT k, max(min_rate) AS iso_rate
        |  FROM (SELECT p.bin AS k, po.i, min(po.rate) AS min_rate
        |        FROM pre p JOIN pooled po
        |          ON po.i <= p.bin AND po.j >= p.bin
        |        GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT b.bin, b.n_users, b.n_pos,
        |       round(CAST(b.n_pos AS DOUBLE) / b.n_users, 6) AS raw_rate,
        |       round(i.iso_rate, 6) AS iso_rate
        |FROM bins b JOIN iso i ON b.bin = i.k
        |ORDER BY b.bin""".stripMargin),
    QueryDef("q168_quantile_normalize", q168QuantileNormalize _,
      s"""WITH base AS (
         |  SELECT doc_id, source, ' ' || text || ' ' AS padded,
         |         len(string_split(trim(text), ' ')) AS n_words,
         |         text
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, source,
         |         round(ln(1.0 + n_words) * (1.0 -
         |           CAST(CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
         |                + (length(padded) - length(replace(padded, ' a ', ''))) / 3
         |                AS INT) AS DOUBLE) / n_words), 6)
         |           AS quality
         |  FROM base),
         |ranked AS (
         |  SELECT doc_id, source, quality,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY quality, doc_id) AS rk,
         |         count(*) OVER (PARTITION BY source) AS ns
         |  FROM scored),
         |grid AS (
         |  SELECT list_transform(
         |           quantile_cont(quality,
         |             list_transform(range(0, ${G + 1}), i -> i / $G.0)),
         |           x -> round(x, 6)) AS g
         |  FROM scored)
         |SELECT doc_id, source, quality,
         |       round(
         |         g[CAST(CASE WHEN ns = 1 THEN 0
         |                     ELSE ((rk - 1) * $G) // (ns - 1) END AS INT) + 1]
         |         + CASE WHEN ns > 1 AND ((rk - 1) * $G) % (ns - 1) > 0
         |             THEN (CAST(((rk - 1) * $G) % (ns - 1) AS DOUBLE)
         |                   / (ns - 1))
         |                  * (g[CAST(((rk - 1) * $G) // (ns - 1) AS INT) + 2]
         |                     - g[CAST(((rk - 1) * $G) // (ns - 1) AS INT) + 1])
         |             ELSE 0.0 END, 6) AS calibrated
         |FROM ranked CROSS JOIN grid
         |ORDER BY doc_id""".stripMargin),
    QueryDef("q169_int8_calibrate", q169Int8Calibrate _,
      s"""WITH coords AS (
         |  SELECT CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |sc AS (
         |  SELECT round(quantile_cont(abs(x), $ClipP), 6) AS scale,
         |         count(*) AS n_coords
         |  FROM coords),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |             CAST(max(len(embedding)) AS INTEGER) AS dim
         |      FROM embeddings),
         |quant AS (
         |  SELECT x, scale, n_coords,
         |         floor(x / scale * 127 + 0.5) AS yq,
         |         least(greatest(floor(x / scale * 127 + 0.5), -127.0), 127.0)
         |           AS q
         |  FROM coords CROSS JOIN sc),
         |err AS (
         |  SELECT scale, n_coords,
         |         CASE WHEN yq <> q THEN 1 ELSE 0 END AS clipped,
         |         CAST(floor((x - q * scale / 127) * 1000000 + 0.5)
         |              AS BIGINT) AS e6
         |  FROM quant)
         |SELECT (SELECT n_vectors FROM n) AS n_vectors,
         |       (SELECT dim FROM n) AS dim,
         |       min(scale) AS scale,
         |       CAST(sum(clipped) AS BIGINT) AS n_clipped,
         |       round(CAST(sum(clipped) AS DOUBLE) / min(n_coords), 6)
         |         AS clip_rate,
         |       round(CAST(sum(e6 * e6) AS DOUBLE) / min(n_coords) / 1e12, 9)
         |         AS mse
         |FROM err""".stripMargin),
    QueryDef("q218_conformal_threshold", q218ConformalThreshold _,
      s"""WITH base AS (
        |  SELECT c_custkey AS k, c_mktsegment AS seg,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
        |         ('0x' || substr(md5('conf:' || CAST(c_custkey AS VARCHAR)),
        |                         1, 15))::BIGINT % 2 = 0 AS is_cal
        |  FROM customer),
        |model AS (
        |  SELECT seg, count(*) AS n_cal,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM base WHERE is_cal GROUP BY seg),
        |scored AS (
        |  SELECT b.k, b.seg, b.is_cal, m.n_cal, m.sum_cents,
        |         abs(b.cents * m.n_cal - m.sum_cents) AS r,
        |         ((m.n_cal + 1) * $ConfNum + ${ConfDen - 1}) // $ConfDen
        |           AS m_rank
        |  FROM base b JOIN model m ON b.seg = m.seg),
        |thr AS (
        |  SELECT seg, r AS thr_scaled FROM (
        |    SELECT seg, r, m_rank,
        |           row_number() OVER (PARTITION BY seg ORDER BY r, k) AS rn
        |    FROM scored WHERE is_cal)
        |  WHERE rn = m_rank)
        |SELECT s.seg, CAST(s.n_cal AS BIGINT) AS n_cal,
        |       CAST(count(*) AS BIGINT) AS n_eval,
        |       CAST(s.m_rank AS BIGINT) AS m_rank,
        |       t.thr_scaled,
        |       round(CAST(count(*) FILTER (WHERE s.r <= t.thr_scaled)
        |               AS DOUBLE) / count(*), 6) AS coverage,
        |       count(*) FILTER (WHERE s.r <= t.thr_scaled) * $ConfDen
        |         >= count(*) * $ConfNum AS meets_target
        |FROM scored s JOIN thr t ON s.seg = t.seg
        |WHERE NOT s.is_cal
        |GROUP BY s.seg, s.n_cal, s.m_rank, t.thr_scaled
        |ORDER BY s.seg""".stripMargin))
}
