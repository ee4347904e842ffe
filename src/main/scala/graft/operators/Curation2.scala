package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] corpus-selection operators beyond [[Curation]]'s cleaning /
  * sampling / packing family: per-domain frequency capping and
  * importance-weighted data selection — the two selection passes a
  * web-scale training pipeline runs between dedup and tokenization
  * (cf. PAPERS.md: RefinedWeb-style per-domain caps; DSIR-style hashed
  * n-gram importance resampling).
  *
  * Both are hash-deterministic (the [[Curation]] discipline: selection
  * keys are content hashes, never `rand()`), so results are stable
  * under repartitioning, retries, and cluster-size changes — the
  * property that makes a 100 TB selection pass reproducible.
  */
object Curation2 {

  /** Per-source keep budget. At sf0.01 every source holds 25 docs, so
    * the cap bites everywhere; smaller SFs leave it inactive (the
    * degenerate all-kept case is still a correct cap). */
  private[graft] val CapPerSource = 15

  /** q146 — PER-DOMAIN FREQUENCY CAP: keep at most [[CapPerSource]]
    * documents per source, selected in deterministic hash order — the
    * anti-over-representation pass web pipelines apply per domain so a
    * handful of mega-sites cannot dominate the corpus mix.
    *
    * Selection = row_number over (source, ordered by a salted 60-bit
    * md5 of doc_id, doc_id tiebreak) — a hash ORDER, not a hash
    * threshold, so the budget is hit exactly (a threshold keeps a
    * binomial-ly noisy count; an order keeps exactly min(n, cap)).
    * Scale shape: one hash-partitioned window by source — domains are
    * numerous and individually small, the window never sees a
    * single-partition global sort. A pathological mega-domain skewing
    * one partition is the q75 salting case: pre-aggregate the top
    * domains' doc lists in a salted first pass, or cap them at the
    * scan with a sampled filter; the output contract (exactly
    * min(n, cap) kept, hash-ordered) is unchanged.
    *
    * Output is the per-source audit row: total, kept, and the sum of
    * kept doc_ids — the checksum that pins the exact selection (two
    * different kept-sets with equal size cannot also match on sum
    * against an independent implementation by accident). */
  def q146DomainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        Hashing.md5Hash60(concat(lit("cap_"), col("doc_id").cast("string")))
          .as("h"))
    val ranked = docs.withColumn("rn",
      row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))))
    ranked
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= CapPerSource, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= CapPerSource, col("doc_id"))).as("kept_docid_sum"))
      .orderBy("source")
  }

  /** Hashed feature-space size for q147. 1024 buckets over uni+bigram
    * features — small enough that the bucket count tables broadcast,
    * large enough that collisions do not flatten the log-ratios. */
  private[graft] val DsirBuckets = 1024

  /** q147's selection size. */
  private[graft] val DsirTopK = 50

  /** q147 — IMPORTANCE-WEIGHTED DATA SELECTION (DSIR shape): score
    * every document by how much more likely its hashed n-gram features
    * are under a TARGET distribution (here: the `lang = 'en'` slice,
    * standing in for a curated high-quality reference corpus) than
    * under the RAW corpus distribution, and keep the top-k. The score
    * is the log importance weight of the doc under two bag-of-features
    * multinomials with add-one smoothing:
    *
    *   w(doc) = Σ_f [ log (t_f + 1)/(T + B) − log (r_f + 1)/(R + B) ]
    *
    * with t/r the target/raw counts of the feature's hash bucket,
    * T/R the total feature masses, B = [[DsirBuckets]].
    *
    * Scale shape: features are hashed to [[DsirBuckets]] buckets, so
    * BOTH distribution tables are fixed-size (≤ B rows) regardless of
    * corpus size — they build with one groupBy each and BROADCAST to
    * the per-doc scoring join; the whole pass is two scans + one
    * broadcast join, no quadratic anything. Features = whitespace
    * unigrams + adjacent bigrams over the empty-token-filtered word
    * list (the q118 tokenization), hashed with the engine-portable
    * 60-bit md5. Ordering is on the ROUNDED weight with doc_id
    * tiebreak, so cross-engine fp summation order cannot flip ranks. */
  def q147DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    // ONE tokenize+hash pass: the corpus is exploded to features once
    // and immediately collapsed to the (doc, bucket, count) table —
    // bounded by docs x DsirBuckets rows, far smaller than the feature
    // stream — from which the raw distribution, the target
    // distribution, AND the per-doc scoring all derive. The first
    // measured cut of this operator recomputed the explode three times
    // (raw counts, target counts, scoring): 28.3s at pseudo-sf1 for a
    // scan-shaped pass — the classic uncached-DAG-reuse tax.
    // repartition the raw docs before the compute-heavy tokenize +
    // bigram explode (r15, the shingles input-skew guard): the
    // single-row-group test file otherwise runs the whole feature
    // derivation as one task inside the scan stage
    val docs = Tables.documents(spark, dir).repartition(col("doc_id"))
      .withColumn("ws",
        expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
      .filter(size(col("ws")) >= 1)
    // features = unigrams ++ adjacent bigrams, as one exploded column
    // (the size >= 2 guard: Spark's sequence(1, 0) counts DOWN
    // ([1, 0]), it is not empty like DuckDB's generate_series(1, 0))
    val docBuckets = docs.select(col("doc_id"), col("lang"),
        explode(concat(col("ws"), expr(
          """CASE WHEN size(ws) >= 2
            |     THEN transform(sequence(1, size(ws) - 1),
            |                    i -> concat_ws(' ', slice(ws, i, 2)))
            |     ELSE CAST(array() AS array<string>) END""".stripMargin)))
          .as("f"))
      .withColumn("b", pmod(Hashing.md5Hash60(col("f")), lit(DsirBuckets)))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val raw = docBuckets.groupBy("b").agg(sum(col("c")).as("r"))
    val tgt = docBuckets.filter(col("lang") === "en")
      .groupBy("b").agg(sum(col("c")).as("t"))
    val totals = raw.agg(sum(col("r")).as("rt")).crossJoin(
      tgt.agg(sum(col("t")).as("tt")))
    val bucketLr = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("t"), lit(0L)) + lit(1)).cast("double") /
            (col("tt") + lit(DsirBuckets))) -
          log((col("r") + lit(1)).cast("double") /
            (col("rt") + lit(DsirBuckets)))).as("lr"))
    docBuckets.join(broadcast(bucketLr), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_feats"),
        round(sum(col("c") * col("lr")), 6).as("weight"))
      .orderBy(desc("weight"), asc("doc_id"))
      .limit(DsirTopK)
  }

  /** q150's temperature. α = 0.3 is the published multilingual-LM
    * operating point: high-resource languages are damped, low-resource
    * ones boosted, rates follow p_l^α renormalized. */
  private[graft] val MixAlpha = 0.3

  /** q150 — TEMPERATURE-BASED LANGUAGE REBALANCING: the standard
    * multilingual pretraining mix — sample language l at rate
    * q_l ∝ p_l^α instead of its natural share p_l, keeping total
    * corpus size. Unlike q99's uniform downsample, temperature mixing
    * UPSAMPLES rare languages (rate > 1 means repeat each doc
    * floor(rate) times plus a hash-selected fractional copy), which is
    * why the operator reports an emit count, not a keep flag.
    *
    * Determinism discipline: the rate is rounded to 6 decimals FIRST
    * (one fp rounding point, same in both engines), then the
    * fractional copy is an integer compare in millionths
    * (hash % 1e6 < round(frac(rate) * 1e6)) — after the single
    * rounding, everything is exact integer math, so cross-engine libm
    * pow() ulp differences cannot flip a selection. Scale shape: the
    * rate table is |languages| rows (broadcast); emission is one
    * map-side join + integer arithmetic on the scan — upsampling
    * materializes lazily (a repeat factor column, exploded only by the
    * consumer), so the pass itself never writes the inflated corpus. */
  def q150TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_total"))
      .withColumn("nn", sum(col("n_total")).over(w))
      .withColumn("q", pow(col("n_total").cast("double") / col("nn"),
        lit(MixAlpha)))
      .withColumn("rate",
        round((col("nn") * col("q") / sum(col("q")).over(w)) /
          col("n_total"), 6))
      .select(col("lang"), col("n_total"), col("rate"))
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        pmod(Hashing.md5Hash60(
          concat(lit("tmix:"), col("doc_id").cast("string"))),
          lit(1000000L)).as("hfrac"))
    docs.join(broadcast(counts), Seq("lang"))
      .withColumn("copies",
        floor(col("rate")).cast("long") +
          when(col("hfrac") <
            round((col("rate") - floor(col("rate"))) * 1e6).cast("long"),
            1L).otherwise(0L))
      .groupBy("lang")
      .agg(max(col("n_total")).as("n_total"),
        max(col("rate")).as("target_rate"),
        sum(col("copies")).as("n_emitted"))
      .withColumn("achieved_rate",
        round(col("n_emitted").cast("double") / col("n_total"), 4))
      .orderBy("lang")
  }

  /** Candidates reported by q210. */
  private[graft] val NoveltyTopK = 25

  /** q210 — shingle-NOVELTY selection: score each candidate document
    * by the fraction of its distinct 3-gram shingles NOT present
    * anywhere in the reference half of the corpus — "what does this
    * document ADD?", the incremental-coverage selection signal that
    * complements q147's target-likeness (which rewards looking LIKE
    * the target) and q163's greedy set cover (which optimizes jointly;
    * this scores independently, so it is one shuffle, not K rounds).
    * Reference/candidate split by doc_id parity (deterministic, the
    * corpus-refresh shape: yesterday's corpus vs today's crawl).
    *
    * Scale shape: ONE left-anti-style shuffle of candidate shingles
    * against the reference's DISTINCT shingle table keyed on shingle
    * content (the q32/q34 class — never pairwise); novelty is one
    * exact integer ratio per doc. Top-[[NoveltyTopK]] with full
    * tie-break. */
  def q210NoveltySelect(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(spark, dir)
    val ref = sh.filter(col("doc_id") % 2 === 0)
      .select("shingle").distinct()
    val cand = sh.filter(col("doc_id") % 2 === 1)
    val novel = cand.join(ref.withColumn("seen", lit(1)),
        Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    novel
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy(col("novelty").desc, col("doc_id"))
      .limit(NoveltyTopK)
  }

  /** q215 — per-source CORPUS DATA CARD: the one-table profile a
    * dataset release ships (datasheets-for-datasets shape) and a
    * curation pipeline regenerates per refresh — per source: document
    * count, distinct-text count and exact-duplicate fraction (q31's
    * md5 grouping folded to a rate), token count statistics
    * (whitespace tokens: total, mean, p50/p95 — tokenizer-budget
    * inputs), and mean document bytes. Everything folds in one
    * combinable pass over the scan plus a source-grain percentile on
    * the per-doc profile; counts exact BIGINTs, each rate/mean one
    * division. */
  def q215DataCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        octet_length(col("text")).cast("long").as("bytes"))
    docs
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_unique"),
        sum(col("toks")).as("total_tokens"),
        expr("percentile(toks, 0.5d)").as("p50_toks"),
        expr("percentile(toks, 0.95d)").as("p95_toks"),
        sum(col("bytes")).as("total_bytes"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        round((col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs"), 6).as("dup_frac"),
        col("total_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 2)
          .as("mean_tokens"),
        round(col("p50_toks"), 1).as("p50_tokens"),
        round(col("p95_toks"), 1).as("p95_tokens"),
        round(col("total_bytes").cast("double") / col("n_docs"), 2)
          .as("mean_bytes"))
      .orderBy("source")
  }

  /** q225 — EXACT WEIGHTED MEDIAN per source: the importance-weighted
    * location statistic curation reports need when documents carry
    * weights (bytes, dedup multiplicity, sampling weight) — the plain
    * median answers "the middle DOCUMENT", the weighted median "the
    * middle BYTE". Lower weighted median: the smallest value x (ties
    * broken by doc_id) whose running weight reaches half the total
    * (2·cumW ≥ W — an exact integer compare, no percentile
    * interpolation, no doubles anywhere). The unweighted lower median
    * rides along through the identical machinery with weight 1, so the
    * report shows exactly how much the weighting MOVES the statistic.
    *
    * Scale shape: one scan derives (words, chars); the cumulative
    * windows partition by source over the doc-grain profile (fixed
    * source cardinality — per-partition size grows with docs-per-
    * source; at extreme scale swap for per-source distributed
    * selection, the q10/q218 note); the qualifying-row pick is a
    * min-struct fold, output |sources| rows. */
  def q225WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("n_words", "doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), " ")).cast("long").as("n_words"),
        col("n_chars"))
      .withColumn("cum_w", sum(col("n_chars")).over(w))
      .withColumn("cum_n", count(lit(1)).over(w))
    val totals = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_w"))
    base.join(totals, Seq("source"))
      .groupBy("source", "n_docs", "tot_w")
      .agg(
        min(when(col("cum_w") * 2 >= col("tot_w"),
          struct(col("n_words"), col("doc_id")))).as("wm"),
        min(when(col("cum_n") * 2 >= col("n_docs"),
          struct(col("n_words"), col("doc_id")))).as("um"))
      .select(col("source"), col("n_docs"), col("tot_w").as("total_chars"),
        col("wm.n_words").as("weighted_median_words"),
        col("um.n_words").as("median_words"))
      .orderBy("source")
  }

  /** q283 — EFFECTIVE SAMPLE SIZE of the length-weighted corpus: per
    * source, Kish's ESS = (Σw)²/Σw² for the q112 sampling weights
    * (w = n_chars) — "how many EQUAL documents is my weighted corpus
    * actually worth?", the one-number audit run before any weighted
    * sampling or importance-weighted mixing (q112/q147): a source
    * whose ESS ratio is far below 1 is dominated by a few huge
    * documents, and weighted draws from it will repeat them. The
    * design-effect view of the same skew q259's tail index measures
    * distributionally.
    *
    * Exactness: Σw and Σw² fold as exact BIGINTs (chars² bounded at
    * every graded scale); ESS is one fixed double expression over
    * them, mirrored verbatim. */
  def q283EffectiveSampleSize(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sw"),
        sum(col("n_chars") * col("n_chars")).as("sw2"))
      .select(col("source"), col("n_docs"),
        round(col("sw").cast("double") * col("sw").cast("double") /
          col("sw2").cast("double"), 4).as("ess"),
        round(col("sw").cast("double") * col("sw").cast("double") /
          col("sw2").cast("double") / col("n_docs"), 6).as("ess_ratio"))
      .orderBy("source")
  }

  /** q284 — GROUPED JACKKNIFE source influence: for each source, the
    * corpus-wide mean document length recomputed with that source
    * LEFT OUT, its influence (global − leave-one-out mean), and the
    * delete-one-group jackknife standard error of the mean — the
    * robustness audit a corpus owner runs before trusting any global
    * quality number: a metric whose jackknife SE is dominated by one
    * source is that source's opinion, not the corpus's. Complements
    * q283 (within-source weight concentration) with cross-source
    * estimator sensitivity.
    *
    * Exactness: all leave-one-out means are single divisions of exact
    * BIGINT totals; each θ₋ₛ micro-quantizes to BIGINT once (the
    * q169/q198 discipline — no raw double ever sums across rows), and
    * the squared-deviation fold runs in decimal(38) (devs are
    * micro×G-scaled, their squares overflow int64 — the q274 lesson);
    * the SE is one fixed double expression over the exact folds. */
  def q284JackknifeInfluence(spark: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("s_chars"))
    val tot = perSrc.agg(sum("n_docs").as("nn"), sum("s_chars").as("ss"),
      count(lit(1)).as("g"))
    val loo = (col("ss") - col("s_chars")).cast("double") /
      (col("nn") - col("n_docs"))
    val themu = perSrc.crossJoin(broadcast(tot))
      .withColumn("theta_mu",
        round(loo * lit(1000000d), 0).cast("long"))
    val se = themu
      .groupBy("g")
      .agg(sum("theta_mu").as("smu"),
        sum(col("theta_mu").cast("decimal(38,0)") * col("theta_mu"))
          .as("qmu"))
      .select(col("g"),
        // Σ(θ−θ̄)² = Σθ² − (Σθ)²/G, all in exact micro² units
        sqrt((col("qmu").cast("double") -
          col("smu").cast("double") * (col("smu").cast("double") / col("g")))
          * (col("g") - 1) / col("g")).as("se_mu"))
    themu.join(broadcast(se), Seq("g"))
      .select(col("source"), col("n_docs"),
        round(col("s_chars").cast("double") / col("n_docs"), 4)
          .as("mean_chars"),
        round(loo, 4).as("loo_mean"),
        round(col("ss").cast("double") / col("nn") - loo, 4)
          .as("influence"),
        round(col("se_mu") / 1000000d, 6).as("jackknife_se"))
      .orderBy("source")
  }

  /** q301 — WATER-FILLING TOKEN ALLOCATION: distribute a token budget
    * B (pinned at half the corpus) across sources as uniformly as the
    * supplies allow — alloc_i = min(supply_i, L) with the water level
    * L chosen so Σ alloc = B. The max-min-fair allocator that
    * completes the mixture family: q99 downsamples proportionally
    * (keeps the skew), q150 tempers it (p^α), q146 caps documents;
    * water-filling is the "every source equal until it runs dry"
    * policy a balanced-mixture pretraining run starts from.
    *
    * Exactness: the level search is ENTIRELY integer — for each rank
    * segment of the supply-sorted profile, L = (B − prefix)/(G − r)
    * is valid iff s_r·(den) ≥ num ≥ s_{r−1}·(den), checked by exact
    * cross-multiplication (no rational ever becomes a float until
    * the reported allocation); allocations are one division each.
    *
    * Scale shape: one source-grain fold, then windows over the
    * |sources|-row profile. */
  def q301WaterFilling(spark: SparkSession, dir: String): DataFrame = {
    val supply = Tables.documents(spark, dir)
      .select(col("source"),
        size(expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
          .cast("long").as("toks"))
      .groupBy("source").agg(sum("toks").as("supply"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("supply"), col("source"))
    val ranked = supply
      .withColumn("r", row_number().over(w))
      .withColumn("g", count(lit(1)).over(W.partitionBy()))
      .withColumn("total", sum(col("supply")).over(W.partitionBy()))
      .withColumn("prefix",
        coalesce(sum(col("supply")).over(w.rowsBetween(
          W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_s",
        coalesce(lag(col("supply"), 1).over(w), lit(0L)))
      .withColumn("budget", expr("total div 2"))
    // the level lives in segment r iff prev_s*(g-r+1) <= B-prefix <=
    // supply*(g-r+1); when B >= total every source is fully served
    val den = col("g") - col("r") + 1
    val num = col("budget") - col("prefix")
    val seg = ranked
      .filter(col("budget") < col("total") &&
        col("prev_s") * den <= num && num <= col("supply") * den)
      .orderBy("r").limit(1)
      .select((num.cast("double") / den).as("level"))
    ranked.crossJoin(broadcast(seg))
      .select(col("source"), col("supply"), col("budget"),
        round(least(col("supply").cast("double"), col("level")), 4)
          .as("alloc_tokens"),
        (col("supply").cast("double") > col("level")).as("capped"),
        round(col("level"), 4).as("water_level"))
      .orderBy("source")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q301_water_filling", q301WaterFilling _,
      """WITH supply AS (
        |  SELECT source,
        |         CAST(sum(len(list_filter(string_split(trim(text), ' '),
        |                                  w -> length(w) > 0))) AS BIGINT)
        |           AS supply
        |  FROM documents GROUP BY 1),
        |ranked AS (
        |  SELECT source, supply,
        |         CAST(row_number() OVER w AS BIGINT) AS r,
        |         CAST(count(*) OVER () AS BIGINT) AS g,
        |         CAST(sum(supply) OVER () AS BIGINT) AS total,
        |         CAST(COALESCE(sum(supply) OVER (ORDER BY supply, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS prefix,
        |         CAST(COALESCE(lag(supply, 1) OVER w, 0) AS BIGINT)
        |           AS prev_s
        |  FROM supply
        |  WINDOW w AS (ORDER BY supply, source)),
        |seg AS (
        |  SELECT CAST(total // 2 - prefix AS DOUBLE) / (g - r + 1)
        |           AS level
        |  FROM ranked
        |  WHERE total // 2 < total
        |    AND prev_s * (g - r + 1) <= total // 2 - prefix
        |    AND total // 2 - prefix <= supply * (g - r + 1)
        |  ORDER BY r LIMIT 1)
        |SELECT r.source, r.supply, CAST(r.total // 2 AS BIGINT) AS budget,
        |       round(least(CAST(r.supply AS DOUBLE), s.level), 4)
        |         AS alloc_tokens,
        |       CAST(r.supply AS DOUBLE) > s.level AS capped,
        |       round(s.level, 4) AS water_level
        |FROM ranked r, seg s
        |ORDER BY r.source""".stripMargin),
    QueryDef("q284_jackknife_influence", q284JackknifeInfluence _,
      """WITH per_src AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS s_chars
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
        |         CAST(sum(s_chars) AS BIGINT) AS ss,
        |         CAST(count(*) AS BIGINT) AS g
        |  FROM per_src),
        |themu AS (
        |  SELECT p.*, t.nn, t.ss, t.g,
        |         CAST(round(CAST(t.ss - p.s_chars AS DOUBLE)
        |                    / (t.nn - p.n_docs) * 1000000, 0) AS BIGINT)
        |           AS theta_mu
        |  FROM per_src p, tot t),
        |se AS (
        |  SELECT g, CAST(sum(theta_mu) AS BIGINT) AS smu,
        |         sum(theta_mu * theta_mu) AS qmu
        |  FROM themu GROUP BY 1)
        |SELECT m.source, m.n_docs,
        |       round(CAST(m.s_chars AS DOUBLE) / m.n_docs, 4) AS mean_chars,
        |       round(CAST(m.ss - m.s_chars AS DOUBLE)
        |             / (m.nn - m.n_docs), 4) AS loo_mean,
        |       round(CAST(m.ss AS DOUBLE) / m.nn
        |             - CAST(m.ss - m.s_chars AS DOUBLE)
        |               / (m.nn - m.n_docs), 4) AS influence,
        |       round(sqrt((CAST(s.qmu AS DOUBLE)
        |                   - CAST(s.smu AS DOUBLE)
        |                     * (CAST(s.smu AS DOUBLE) / s.g))
        |                  * (s.g - 1) / s.g) / 1000000, 6)
        |         AS jackknife_se
        |FROM themu m JOIN se s USING (g)
        |ORDER BY m.source""".stripMargin),
    QueryDef("q283_effective_sample_size", q283EffectiveSampleSize _,
      """WITH stats AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sw,
        |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sw2
        |  FROM documents WHERE n_chars > 0 GROUP BY 1)
        |SELECT source, n_docs,
        |       round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |             / CAST(sw2 AS DOUBLE), 4) AS ess,
        |       round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |             / CAST(sw2 AS DOUBLE) / n_docs, 6) AS ess_ratio
        |FROM stats ORDER BY source""".stripMargin),
    QueryDef("q225_weighted_median", q225WeightedMedian _,
      """WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(trim(text), ' ')) AS BIGINT)
        |           AS n_words,
        |         n_chars
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_words, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source
        |           ORDER BY n_words, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum_w,
        |         count(*) OVER (PARTITION BY source
        |           ORDER BY n_words, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum_n
        |  FROM base),
        |t AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS tot_w
        |      FROM base GROUP BY 1)
        |SELECT c.source, t.n_docs, t.tot_w AS total_chars,
        |       min(CASE WHEN c.cum_w * 2 >= t.tot_w
        |                THEN c.n_words END) AS weighted_median_words,
        |       min(CASE WHEN c.cum_n * 2 >= t.n_docs
        |                THEN c.n_words END) AS median_words
        |FROM c JOIN t ON c.source = t.source
        |GROUP BY c.source, t.n_docs, t.tot_w
        |ORDER BY c.source""".stripMargin),
    QueryDef("q146_domain_cap", q146DomainCap _,
      s"""WITH ranked AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY ('0x' || substr(md5('cap_' ||
        |                       CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn
        |  FROM documents)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN rn <= $CapPerSource THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN rn <= $CapPerSource THEN doc_id END)
        |            AS BIGINT) AS kept_docid_sum
        |FROM ranked GROUP BY source ORDER BY source""".stripMargin),
    QueryDef("q147_dsir_select", q147DsirSelect _,
      s"""WITH docs AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(trim(text), ' '),
        |                     w -> len(w) > 0) AS ws
        |  FROM documents
        |  WHERE len(list_filter(string_split(trim(text), ' '),
        |                        w -> len(w) > 0)) >= 1),
        |feats AS (
        |  SELECT doc_id, lang,
        |         ('0x' || substr(md5(f), 1, 15))::BIGINT % $DsirBuckets
        |           AS b
        |  FROM (
        |    SELECT doc_id, lang, unnest(ws) AS f FROM docs
        |    UNION ALL
        |    SELECT doc_id, lang,
        |           ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS f
        |    FROM (SELECT doc_id, lang, ws,
        |                 unnest(generate_series(1, len(ws) - 1)) AS i
        |          FROM docs))),
        |raw AS (SELECT b, count(*) AS r FROM feats GROUP BY 1),
        |tgt AS (SELECT b, count(*) AS t FROM feats
        |        WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT sum(r) FROM raw) AS rt,
        |               (SELECT sum(t) FROM tgt) AS tt),
        |lr AS (
        |  SELECT raw.b,
        |         ln(CAST(COALESCE(tgt.t, 0) + 1 AS DOUBLE) /
        |            (tot.tt + $DsirBuckets)) -
        |         ln(CAST(raw.r + 1 AS DOUBLE) /
        |            (tot.rt + $DsirBuckets)) AS lr
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
        |db AS (
        |  SELECT doc_id, lang, b, count(*) AS c
        |  FROM feats GROUP BY 1, 2, 3)
        |SELECT doc_id, lang,
        |       CAST(sum(c) AS BIGINT) AS n_feats,
        |       round(sum(c * lr), 6) AS weight
        |FROM db JOIN lr USING (b)
        |GROUP BY doc_id, lang
        |ORDER BY weight DESC, doc_id ASC
        |LIMIT $DsirTopK""".stripMargin),
    QueryDef("q150_temperature_mix", q150TemperatureMix _,
      s"""WITH counts AS (
        |  SELECT lang, count(*) AS n_total FROM documents GROUP BY 1),
        |rates AS (
        |  SELECT lang, n_total,
        |         round(((SELECT sum(n_total) FROM counts) *
        |                pow(CAST(n_total AS DOUBLE) /
        |                    (SELECT sum(n_total) FROM counts), $MixAlpha) /
        |                (SELECT sum(pow(CAST(n_total AS DOUBLE) /
        |                                (SELECT sum(n_total) FROM counts),
        |                                $MixAlpha)) FROM counts)) /
        |               n_total, 6) AS rate
        |  FROM counts),
        |emitted AS (
        |  SELECT d.lang,
        |         CAST(floor(r.rate) AS BIGINT) +
        |         CASE WHEN ('0x' || substr(md5('tmix:' ||
        |                      CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |                    % 1000000 <
        |                   CAST(round((r.rate - floor(r.rate)) * 1e6)
        |                        AS BIGINT)
        |              THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN rates r USING (lang))
        |SELECT lang, n_total, rate AS target_rate,
        |       CAST(sum(copies) AS BIGINT) AS n_emitted,
        |       round(CAST(sum(copies) AS DOUBLE) / n_total, 4)
        |         AS achieved_rate
        |FROM emitted JOIN rates USING (lang)
        |GROUP BY lang, n_total, rate
        |ORDER BY lang""".stripMargin),
    QueryDef("q210_novelty_select", q210NoveltySelect _,
      s"""WITH ${Dedup.shinglesCte},
        |ref AS (
        |  SELECT DISTINCT shingle FROM shingles WHERE doc_id % 2 = 0),
        |novel AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |         CAST(sum(CASE WHEN r.shingle IS NULL THEN 1
        |                       ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM shingles s LEFT JOIN ref r ON r.shingle = s.shingle
        |  WHERE s.doc_id % 2 = 1
        |  GROUP BY 1)
        |SELECT doc_id, n_shingles, n_novel,
        |       round(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
        |FROM novel
        |ORDER BY novelty DESC, doc_id
        |LIMIT $NoveltyTopK""".stripMargin),
    QueryDef("q215_data_card", q215DataCard _,
      """WITH docs AS (
        |  SELECT source, md5(text) AS h,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
        |           AS bytes
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       count(DISTINCT h) AS n_unique,
        |       round(CAST(count(*) - count(DISTINCT h) AS DOUBLE)
        |             / count(*), 6) AS dup_frac,
        |       CAST(sum(toks) AS BIGINT) AS total_tokens,
        |       round(CAST(sum(toks) AS DOUBLE) / count(*), 2)
        |         AS mean_tokens,
        |       round(quantile_cont(CAST(toks AS DOUBLE), 0.5), 1)
        |         AS p50_tokens,
        |       round(quantile_cont(CAST(toks AS DOUBLE), 0.95), 1)
        |         AS p95_tokens,
        |       round(CAST(sum(bytes) AS DOUBLE) / count(*), 2)
        |         AS mean_bytes
        |FROM docs GROUP BY source ORDER BY source""".stripMargin))
}
