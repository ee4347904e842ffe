package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-13 batch: drift LOCALIZATION (where did the series
  * break, not just whether — q382), the curation-funnel attrition
  * report every training-data pipeline publishes (q383), token-budget
  * systematic sampling on the distributed prefix-sum primitive (q384),
  * head-boilerplate detection as a pure content-key groupBy (q385),
  * the simplified-silhouette cluster-quality gate (q386), and the
  * int8 scalar-quantization serving audit (q387).
  *
  * Shared disciplines (see docs/DETERMINISM.md and the Benford6/q154
  * lesson): libm never decides a comparison un-quantized — q382's
  * argmax runs over MICRO-QUANTIZED gains with a calendar tie-break;
  * thresholds compare as exact integer cross-products (q383's mean-
  * word-length band is `2·words ≤ chars ≤ 12·words`, never a division);
  * sampling is hash-ordered and never `rand()` (q384, the q220/q381
  * rule); and no pair of documents ever meets except on a shared
  * content key (q385 groups on the prefix itself).
  */
object Breadth11 {

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

  // ---------------------------------------------------------------- q383

  /** q383 pinned gate constants (C4/Gopher-style rule shapes on the
    * synthetic corpus; at production scale the same funnel runs with
    * production thresholds — only these literals change). */
  private[graft] val FunnelLenMin = 100L
  private[graft] val FunnelLenMax = 20000L
  private[graft] val FunnelMinWords = 10L
  private[graft] val FunnelMwlMin = 2L // mean word length ∈ [2, 12] …
  private[graft] val FunnelMwlMax = 12L // … as 2·w ≤ chars ≤ 12·w
  private[graft] val FunnelStops = Seq("the", "a", "of", "and", "to")
  /** distinct-word (type-token) ratio ≥ 3/10, as 10·distinct ≥ 3·words */
  private[graft] val FunnelTtrNum = 3L
  private[graft] val FunnelTtrDen = 10L

  /** q383 — CURATION FUNNEL: cumulative survival of every document
    * through the pinned quality gates IN ORDER (length band → word
    * floor → mean-word-length band → stopword hit → type-token
    * repetition floor), reported per source with the final keep rate.
    * This is the attrition table every corpus card publishes (how many
    * docs each rule removes, which source each rule bites) — the
    * DECISION view on top of q39's per-doc scores: thresholds applied,
    * staged, and attributed. Every rule is an exact integer predicate
    * (bands compare as cross-products, never divisions), so the funnel
    * is bit-deterministic; ONE scan, one conditional fold per source,
    * no joins, no windows — embarrassingly parallel at any corpus
    * size. */
  /** Adds `words`/`n_words`/`n_wchars` and the five q383 gate flags
    * `r1..r5` to a documents frame — ONE definition of the funnel
    * rules, shared by q383 (the attrition report) and q389 (the
    * composed materialization pipeline, which must apply EXACTLY the
    * rules the report describes). */
  private[graft] def funnelGateCols(d: DataFrame): DataFrame = {
    val stops = FunnelStops.map(s => s"'$s'").mkString("array(", ", ", ")")
    d.withColumn("words",
        filter(split(col("text"), " "), w => length(w) > 0))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_wchars",
        length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("r1", col("n_chars").between(FunnelLenMin, FunnelLenMax))
      .withColumn("r2", col("n_words") >= FunnelMinWords)
      .withColumn("r3",
        lit(FunnelMwlMin) * col("n_words") <= col("n_wchars") &&
          col("n_wchars") <= lit(FunnelMwlMax) * col("n_words"))
      .withColumn("r4", arrays_overlap(col("words"), expr(stops)))
      .withColumn("r5",
        lit(FunnelTtrDen) * size(array_distinct(col("words"))) >=
          lit(FunnelTtrNum) * col("n_words"))
  }

  def q383CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = funnelGateCols(Tables.documents(spark, dir))
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt(col("r1")).as("len_ok"),
        cnt(col("r1") && col("r2")).as("and_words"),
        cnt(col("r1") && col("r2") && col("r3")).as("and_mwl"),
        cnt(col("r1") && col("r2") && col("r3") && col("r4"))
          .as("and_stop"),
        cnt(col("r1") && col("r2") && col("r3") && col("r4") &&
          col("r5")).as("and_ttr"))
      .withColumn("keep_ppm", expr("and_ttr * 1000000 div n_docs"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q384

  /** q384 token stride: one pick per this many tokens of running mass
    * (a planning literal like q376's 1 MiB target — production uses
    * the token budget the training run actually has). */
  private[graft] val TokenStride = 2048L

  /** q384 — TOKEN-BUDGET SYSTEMATIC SAMPLE (size-weighted, PPS): order
    * documents by a salted hash (deterministic shuffle — the never-
    * `rand()` rule), take the distributed running total of token
    * counts, and pick every document whose cumulative mass crosses a
    * [[TokenStride]] boundary — Madow systematic sampling, selection
    * probability ∝ document size, expected sample = total_tokens/T
    * docs with NO binomial noise (exactly one pick per stride of
    * corpus mass; a doc longer than T is picked with multiplicity, as
    * PPS requires). This is how a token-budgeted subcorpus is drawn
    * when doc-count sampling (q53's rate draw, q146's per-source cap)
    * would over-weight short documents. Scale: the prefix sum is
    * [[DistributedRank.withRunningTotal]] — range-partition +
    * per-partition offsets, #partitions driver scalars, no global
    * window; everything else is a scan. */
  def q384TokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0))
          .cast("long").as("n_tokens"))
      .withColumn("h",
        md5(concat(lit("tbsample:"), col("doc_id").cast("string"))))
    DistributedRank.withRunningTotal(d, "n_tokens", "cum",
        asc("h"), asc("doc_id"))
      .filter(expr(s"cum div $TokenStride >" +
        s" (cum - n_tokens) div $TokenStride"))
      .select(col("doc_id"), col("n_tokens"), col("cum"),
        expr(s"cum div $TokenStride - (cum - n_tokens) div $TokenStride")
          .as("multiplicity"))
      .orderBy("cum")
  }

  // ---------------------------------------------------------------- q385

  private[graft] val BoilerPrefixLen = 40
  private[graft] val BoilerTopN = 20

  /** q385 — HEAD-BOILERPLATE DETECTION: documents sharing an identical
    * leading [[BoilerPrefixLen]]-char prefix, the signature of
    * template headers/licenses/nav chrome that survives whole-doc
    * dedup (bodies differ) and that q110's span windows price per doc
    * but never NAME across docs. Pure content-key groupBy — the prefix
    * IS the key, so no document pair ever meets outside its group and
    * hot boilerplate cannot go quadratic; top-[[BoilerTopN]] by
    * (count, prefix) is a TakeOrderedAndProject (K-row driver merge,
    * no window). Cross-source spread (`n_sources`) separates shared
    * template chrome from single-source dumps. */
  def q385BoilerplatePrefix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(substring(col("text"), 1, BoilerPrefixLen).as("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), asc("prefix"))
      .limit(BoilerTopN)

  // ---------------------------------------------------------------- q386

  /** q386 — SIMPLIFIED SILHOUETTE (centroid-based, Hruschka et al. —
    * the O(N·k) member of the silhouette family): per vector, cohesion
    * a = 1 − cos(v, own centroid) vs separation b = 1 − max cos to any
    * OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1]; negative s means
    * some other label's centroid is CLOSER — the per-label roll-up of
    * exactly the vectors q233's confusion matrix counts cell-by-cell.
    * This is the cluster-quality gate run before trusting labels as
    * retrieval filters (q223 asks "are centroids separated?"; this
    * asks "do the POINTS agree?"). Full silhouette is O(N²) pairwise —
    * a non-starter at corpus scale; the simplified form needs one
    * point×centroid join (n·k·d rows, model-sized broadcast — the
    * standard brute-classify matmul, linear in the corpus).
    *
    * Determinism: all folds over exact micro-quantized BIGINTs (the
    * shared [[AnnRetrieval.labelCentroids]] profile + per-vector Σvm²);
    * doubles appear only in the final per-(vec, centroid) cosine —
    * identical op shapes cross-engine — and every per-vector s is
    * micro-quantized BEFORE the per-label mean folds (a raw double sum
    * across rows would be merge-order-dependent). */
  def q386SimplifiedSilhouette(spark: SparkSession,
      dir: String): DataFrame = {
    val cd = AnnRetrieval.labelCentroids(spark, dir)
    val cNorms = cd.groupBy(col("label").as("c_label"))
      .agg(sum(col("cq") * col("cq")).as("c2"))
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
    val v2 = pts.groupBy("vec_id").agg(sum(col("vm") * col("vm")).as("v2"))
    val dots = pts
      .join(broadcast(cd.select(col("label").as("c_label"), col("pos"),
        col("cq"))), Seq("pos"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum(col("vm") * col("cq")).as("dot"))
    val scored = dots
      .join(broadcast(cNorms), Seq("c_label"))
      .join(v2, Seq("vec_id"))
      // zero-norm guard (mirrors q387's scale_m > 0): an all-zero
      // embedding would make cos = 0/0 = NaN, which Spark's non-ANSI
      // bigint cast silently zeroes while DuckDB errors — filter the
      // (non-occurring but possible) zero vectors out on BOTH sides
      .filter(col("v2") > 0)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("v2").cast("double")) * sqrt(col("c2").cast("double"))))
    val per = scored.groupBy("vec_id", "label")
      .agg(max(when(col("c_label") === col("label"), col("cos")))
          .as("cos_own"),
        max(when(col("c_label") =!= col("label"), col("cos")))
          .as("cos_other"))
      .withColumn("s_u", expr(
        "cast(round(case when 1 - least(cos_own, cos_other) <> 0" +
          " then (cos_own - cos_other)" +
          " / (1 - least(cos_own, cos_other)) end * 1e6, 0) as bigint)"))
    per.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("round(cast(sum(s_u) as double) / count(*) / 1e6, 6)")
          .as("mean_sil"),
        expr("sum(case when s_u < 0 then 1 else 0 end) * 1000000" +
          " div count(*)").as("neg_ppm"),
        expr("round(min(s_u) / 1e6, 6)").as("worst_sil"))
      .orderBy("label")
  }

  // ---------------------------------------------------------------- q387

  /** q387 int8 code range (symmetric scalar quantization). */
  private[graft] val QuantMax = 127L

  /** q387 — INT8 SCALAR-QUANTIZATION AUDIT: symmetric per-vector int8
    * quantization (scale = the vector's max |coordinate|, code =
    * round(v·127/scale) ∈ [−127, 127]) priced per label by cosine
    * preservation, worst-vector cosine, max absolute coordinate error,
    * and relative MSE. This is the 4×-memory serving trade every
    * vector store offers BEFORE the codebook methods — per-vector
    * scalar quant needs no trained model (vs q113's PQ/q114's IVFPQ),
    * so the audit is the decision input for "is int8 enough, or do we
    * pay for PQ training?". Mergeable and one-pass: per-vector work is
    * a 64-row partitioned window (the max-abs scale) plus exact-BIGINT
    * folds; per-label roll-ups fold micro-quantized cosines (never raw
    * double sums). Linear in the corpus, no joins wider than the scan.
    *
    * Determinism: quantize → reconstruct → error all in integer
    * micro-units (round-half-away division by the exact integer
    * scale); cos folds exact BIGINT dot/norms with two sqrts + one
    * division at the end (the q223 trick); per-vector cos micro-
    * quantized before the label mean. */
  def q387Int8QuantAudit(spark: SparkSession, dir: String): DataFrame = {
    val wVec = Window.partitionBy("vec_id")
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
      .withColumn("scale_m", max(abs(col("vm"))).over(wVec))
      .filter(col("scale_m") > 0) // the all-zero vector has no scale
      .withColumn("code",
        expr(s"cast(round(vm * $QuantMax.0 / scale_m, 0) as bigint)"))
      .withColumn("rm",
        expr(s"cast(round(code * scale_m / $QuantMax.0, 0) as bigint)"))
      .withColumn("err", col("vm") - col("rm"))
    val per = pts.groupBy("vec_id", "label")
      .agg(sum(col("vm") * col("rm")).as("dot"),
        sum(col("vm") * col("vm")).as("v2"),
        sum(col("rm") * col("rm")).as("r2"),
        sum(col("err") * col("err")).as("e2"),
        max(abs(col("err"))).as("max_err"))
      .withColumn("cos_u", expr(
        "cast(round(cast(dot as double) / (sqrt(cast(v2 as double))" +
          " * sqrt(cast(r2 as double))) * 1e6, 0) as bigint)"))
    per.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("round(cast(sum(cos_u) as double) / count(*) / 1e6, 6)")
          .as("mean_cos"),
        expr("round(min(cos_u) / 1e6, 6)").as("worst_cos"),
        max(col("max_err")).as("max_abs_err_micro"),
        expr("round(cast(sum(e2) as double) / cast(sum(v2) as double)," +
          " 6)").as("rel_mse"))
      .orderBy("label")
  }

  // ------------------------------------------------------------ registry

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q382_changepoint", q382Changepoint _,
      """WITH daily AS (
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
        |         p AS (PARTITION BY event_type)),
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
    QueryDef("q383_curation_funnel", q383CurationFunnel _,
      {
      val stops = FunnelStops.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH d AS (
        |  SELECT source, n_chars,
        |         list_filter(string_split(text, ' '),
        |                     w -> len(w) > 0) AS words,
        |         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_wchars
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |         CAST(len(words) AS BIGINT) AS n_words, n_wchars,
        |         (n_chars BETWEEN $FunnelLenMin AND $FunnelLenMax)
        |           AS r1,
        |         (CAST(len(words) AS BIGINT) >= $FunnelMinWords) AS r2,
        |         ($FunnelMwlMin * CAST(len(words) AS BIGINT) <= n_wchars
        |          AND n_wchars <= $FunnelMwlMax
        |              * CAST(len(words) AS BIGINT)) AS r3,
        |         (len(list_intersect(words, $stops)) > 0) AS r4,
        |         ($FunnelTtrDen * CAST(len(list_distinct(words))
        |              AS BIGINT) >=
        |          $FunnelTtrNum * CAST(len(words) AS BIGINT)) AS r5
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER (r1) AS BIGINT) AS len_ok,
        |       CAST(count(*) FILTER (r1 AND r2) AS BIGINT) AS and_words,
        |       CAST(count(*) FILTER (r1 AND r2 AND r3) AS BIGINT)
        |         AS and_mwl,
        |       CAST(count(*) FILTER (r1 AND r2 AND r3 AND r4)
        |            AS BIGINT) AS and_stop,
        |       CAST(count(*) FILTER (r1 AND r2 AND r3 AND r4 AND r5)
        |            AS BIGINT) AS and_ttr,
        |       CAST(count(*) FILTER (r1 AND r2 AND r3 AND r4 AND r5)
        |            AS BIGINT) * 1000000
        |         // CAST(count(*) AS BIGINT) AS keep_ppm
        |FROM r GROUP BY source ORDER BY source""".stripMargin
    }),
    QueryDef("q384_token_budget_sample", q384TokenBudgetSample _,
      s"""WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '),
        |              w -> len(w) > 0)) AS BIGINT) AS n_tokens,
        |         md5('tbsample:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, n_tokens, cum,
        |       CAST(cum // $TokenStride
        |            - (cum - n_tokens) // $TokenStride AS BIGINT)
        |         AS multiplicity
        |FROM c
        |WHERE cum // $TokenStride > (cum - n_tokens) // $TokenStride
        |ORDER BY cum""".stripMargin),
    QueryDef("q385_boilerplate_prefix", q385BoilerplatePrefix _,
      s"""SELECT substr(text, 1, $BoilerPrefixLen) AS prefix,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(min(doc_id) AS BIGINT) AS example_doc
        |FROM documents
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_docs DESC, prefix LIMIT $BoilerTopN""".stripMargin),
    QueryDef("q386_simplified_silhouette", q386SimplifiedSilhouette _,
      """WITH ex AS (
        |  SELECT vec_id, label, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS vm
        |  FROM (SELECT vec_id, label, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |cd AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(vm) AS BIGINT) AS s
        |       FROM ex GROUP BY 1, 2),
        |cq AS (SELECT label AS c_label, pos,
        |              CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT)
        |                AS cq
        |       FROM cd),
        |c2 AS (SELECT c_label, CAST(sum(cq * cq) AS BIGINT) AS c2
        |       FROM cq GROUP BY 1),
        |v2 AS (SELECT vec_id, CAST(sum(vm * vm) AS BIGINT) AS v2
        |       FROM ex GROUP BY 1),
        |dots AS (
        |  SELECT e.vec_id, e.label, q.c_label,
        |         CAST(sum(e.vm * q.cq) AS BIGINT) AS dot
        |  FROM ex e JOIN cq q ON q.pos = e.pos
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT d.vec_id, d.label, d.c_label,
        |         CAST(d.dot AS DOUBLE) / (sqrt(CAST(v.v2 AS DOUBLE))
        |           * sqrt(CAST(c.c2 AS DOUBLE))) AS cos
        |  FROM dots d JOIN v2 v USING (vec_id) JOIN c2 c
        |    USING (c_label)
        |  WHERE v.v2 > 0),
        |per AS (
        |  SELECT vec_id, label,
        |         max(CASE WHEN c_label = label THEN cos END) AS cos_own,
        |         max(CASE WHEN c_label <> label THEN cos END)
        |           AS cos_other
        |  FROM sc GROUP BY 1, 2),
        |su AS (
        |  SELECT label,
        |         CAST(round(CASE WHEN 1 - least(cos_own, cos_other)
        |                <> 0
        |              THEN (cos_own - cos_other)
        |                / (1 - least(cos_own, cos_other)) END * 1e6, 0)
        |              AS BIGINT) AS s_u
        |  FROM per)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(s_u) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_sil,
        |       CAST(sum(CASE WHEN s_u < 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) * 1000000
        |         // CAST(count(*) AS BIGINT) AS neg_ppm,
        |       round(min(s_u) / 1e6, 6) AS worst_sil
        |FROM su GROUP BY label ORDER BY label""".stripMargin),
    QueryDef("q387_int8_quant_audit", q387Int8QuantAudit _,
      s"""WITH ex AS (
        |  SELECT vec_id, label, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS vm
        |  FROM (SELECT vec_id, label, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |sc AS (
        |  SELECT vec_id, label, pos, vm,
        |         max(abs(vm)) OVER (PARTITION BY vec_id) AS scale_m
        |  FROM ex),
        |qt AS (
        |  SELECT *,
        |         CAST(round(vm * $QuantMax.0 / scale_m, 0) AS BIGINT)
        |           AS code
        |  FROM sc WHERE scale_m > 0),
        |rc AS (
        |  SELECT *,
        |         CAST(round(code * scale_m / $QuantMax.0, 0) AS BIGINT)
        |           AS rm
        |  FROM qt),
        |per AS (
        |  SELECT vec_id, label,
        |         CAST(sum(vm * rm) AS BIGINT) AS dot,
        |         CAST(sum(vm * vm) AS BIGINT) AS v2,
        |         CAST(sum(rm * rm) AS BIGINT) AS r2,
        |         CAST(sum((vm - rm) * (vm - rm)) AS BIGINT) AS e2,
        |         CAST(max(abs(vm - rm)) AS BIGINT) AS max_err
        |  FROM rc GROUP BY 1, 2),
        |cu AS (
        |  SELECT *,
        |         CAST(round(CAST(dot AS DOUBLE)
        |           / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(r2
        |           AS DOUBLE))) * 1e6, 0) AS BIGINT) AS cos_u
        |  FROM per)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(cos_u) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_cos,
        |       round(min(cos_u) / 1e6, 6) AS worst_cos,
        |       CAST(max(max_err) AS BIGINT) AS max_abs_err_micro,
        |       round(CAST(sum(e2) AS DOUBLE) / CAST(sum(v2) AS DOUBLE),
        |         6) AS rel_mse
        |FROM cu GROUP BY label ORDER BY label""".stripMargin),
    QueryDef("q388_changepoint2", q388Changepoint2 _,
      """WITH daily AS (
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
        |         p AS (PARTITION BY event_type)),
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
