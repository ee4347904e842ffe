package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] ML feature-preparation operators: temporal train/test
  * splitting with an embargo gap (q196), smoothed target encoding
  * (q197), and mutual-information feature relevance (q198) — the
  * feature-engineering steps between q53's curation and a trainer,
  * complementing the hash split (q97) and cluster-leakage split
  * (q117) with the TIME dimension and the two classic categorical
  * feature statistics.
  *
  * Scale shape: q196 is one scan against two broadcast integer bounds;
  * q197/q198 fold the facts to category-grain sufficient statistics
  * (category cardinality-bounded) and every derived number is computed
  * on that profile.
  *
  * Determinism: the split boundary and embargo are PURE integer micros
  * (min + span·4 div 5 — no percentile interpolation in the
  * boundary); encodings are pinned-order divisions of exact integers;
  * q198's per-cell PMI terms use log2 of an exact ratio (the q123
  * precedent) and the MI total is micro-quantized to exact BIGINTs
  * BEFORE summation (the q169 discipline) so the fold is order-free.
  */
object FeaturePrep {

  /** Embargo gap (micros) between train and test for q196. */
  private[graft] val EmbargoUs = 86400000000L

  /** q196 — temporal split with embargo: train = events strictly
    * before (t* − 1 day), embargo = the dropped day, test = at/after
    * t*, where t* = min + span·4/5 in exact integer micros — the
    * leakage-safe split for time-series models, where a hash split
    * (q97) would let the model peek across the boundary and an
    * adjacent split leaks label windows; the embargo purges rows whose
    * look-ahead features would straddle t*. One scan, two broadcast
    * integer bounds, three audit rows. */
  def q196TemporalSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      .select((col("t0") + expr("(t1 - t0) * 4 div 5")).as("t_star"))
    ev.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("us"),
        when(col("us") < col("t_star") - EmbargoUs, "1_train")
          .when(col("us") < col("t_star"), "2_embargo")
          .otherwise("3_test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))
      .orderBy("split")
  }

  /** Smoothing pseudo-count for q197. */
  private[graft] val SmoothM = 10

  /** q197 — smoothed target encoding: each order-priority category
    * encoded as (Σ target + M·prior) / (n + M) with the global mean as
    * prior — the shrinkage that keeps rare categories from memorizing
    * their few labels. Sufficient statistics fold per category
    * (cardinality-bounded, broadcast-scale); prior and encoding are
    * pinned-order divisions of exact cents. */
  def q197TargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir).select(
      col("o_orderpriority").as("category"),
      expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val global = rows.agg(sum(col("cents")).as("s_all"),
      count(lit(1)).as("n_all"))
    rows.groupBy("category")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .crossJoin(broadcast(global))
      .select(col("category"), col("n"),
        round(col("s").cast("double") / col("n") / 100.0, 6)
          .as("raw_mean"),
        round((col("s").cast("double") +
          lit(SmoothM) * (col("s_all").cast("double") / col("n_all"))) /
          (col("n") + SmoothM) / 100.0, 6).as("encoded"),
        round(col("n").cast("double") / (col("n") + SmoothM), 6)
          .as("shrink_weight"))
      .orderBy("category")
  }

  /** q198 — mutual information between event type and ISO weekday:
    * per-cell PMI contributions p_ij·log2(N·n_ij/(n_i·n_j)) over the
    * |types|×7 contingency table plus the MI total — "does WHEN an
    * event happens carry information about WHAT it is?", the feature-
    * relevance screen run before spending a model on a feature. The
    * contingency table is one combinable fold of the scan; every
    * marginal joins back broadcast. Each cell term is micro-quantized
    * to exact BIGINT micro-bits BEFORE the total sum (the q169
    * discipline) so the fold is order-free; log2 consumes one
    * correctly-rounded division of an exact integer ratio (the q123
    * precedent). */
  def q198MutualInformation(spark: SparkSession, dir: String): DataFrame = {
    val terms = contingency(spark, dir)
      .select(col("t"), col("dow"), col("n_ij"),
        log2((col("n_ij") * col("n_all")).cast("double") /
          (col("n_i") * col("n_j"))).as("pmi_bits"),
        col("n_all"))
      .withColumn("term_micro",
        expr("cast(round(pmi_bits * n_ij / n_all * 1e6, 0) as bigint)"))
    miReport(terms)
  }

  /** The (type × weekday) contingency table with marginals and total
    * joined on — shared by q198 (mutual information) and q201
    * (chi-square); one combinable fold of the scan, marginals
    * broadcast back. q198 consumes the OBSERVED cells (a zero cell
    * contributes 0·log = 0 to MI by convention, and its PMI would be
    * log2(0)); q201 densifies first — see [[q201ChiSquare]]. */
  private def contingency(spark: SparkSession, dir: String): DataFrame =
    withMarginals(observedCells(spark, dir))

  private def observedCells(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type").as("t"),
        weekday(to_date(col("ts"))).as("dow"))
      .groupBy("t", "dow").agg(count(lit(1)).as("n_ij"))

  private def withMarginals(cells: DataFrame): DataFrame = {
    val rowM = cells.groupBy("t").agg(sum(col("n_ij")).as("n_i"))
    val colM = cells.groupBy("dow").agg(sum(col("n_ij")).as("n_j"))
    val total = cells.agg(sum(col("n_ij")).as("n_all"))
    cells
      .join(broadcast(rowM), Seq("t"))
      .join(broadcast(colM), Seq("dow"))
      .crossJoin(broadcast(total))
  }

  private def miReport(terms: DataFrame): DataFrame = {
    val mi = terms.agg((sum(col("term_micro")).cast("double") / 1e6)
      .as("mi_bits_total"))
    terms.crossJoin(broadcast(mi))
      .select(col("t"), col("dow"), col("n_ij"),
        round(col("pmi_bits"), 6).as("pmi_bits"),
        round(col("mi_bits_total"), 6).as("mi_bits_total"))
      .orderBy("t", "dow")
  }

  /** q201 — chi-square test of independence on the same (type ×
    * weekday) contingency as q198: per-cell expected counts
    * e = n_i·n_j/N, standardized residuals (n−e)/√e, and the χ²
    * statistic with its degrees of freedom — the significance
    * companion to q198's effect-size view (MI says how MUCH the
    * margins interact, χ² says whether the interaction clears
    * sampling noise). Unlike MI, a (t, dow) cell with n_ij = 0 but
    * expected > 0 DOES contribute ((0−e)²/e = e) to χ², so the
    * observed cells are densified onto the |types|×|dows| cross
    * product with zero fill before scoring (ADVICE r8) — marginals
    * are unchanged by the zero rows. Per-cell χ² terms are
    * micro-quantized to exact BIGINTs before the total (the
    * q198/q169 discipline); dof is exact integer arithmetic on the
    * distinct margin counts. */
  def q201ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val observed = observedCells(spark, dir)
    val dense = observed.select("t").distinct()
      .crossJoin(observed.select("dow").distinct())
      .join(observed, Seq("t", "dow"), "left")
      .select(col("t"), col("dow"),
        coalesce(col("n_ij"), lit(0L)).as("n_ij"))
    val terms = withMarginals(dense)
      .withColumn("e",
        (col("n_i") * col("n_j")).cast("double") / col("n_all"))
      .withColumn("term_micro", expr(
        "cast(round((n_ij - e) * (n_ij - e) / e * 1e6, 0) as bigint)"))
    val stat = terms.agg(
      (sum(col("term_micro")).cast("double") / 1e6).as("chi2_total"),
      ((count_distinct(col("t")) - 1) *
        (count_distinct(col("dow")) - 1)).as("dof"))
    terms.crossJoin(broadcast(stat))
      .select(col("t"), col("dow"), col("n_ij"),
        round(col("e"), 6).as("expected"),
        round((col("n_ij") - col("e")) / sqrt(col("e")), 6)
          .as("std_residual"),
        round(col("chi2_total"), 6).as("chi2_total"), col("dof"))
      .orderBy("t", "dow")
  }

  /** q227's user-grain feature set: every feature an exact integer. */
  private[graft] val CorrFeatures =
    Seq("f_events", "f_spend", "f_purchases", "f_days")

  /** q227 — FEATURE CORRELATION MATRIX: pairwise Pearson correlation
    * of the user-grain feature vector (event count, spend cents,
    * purchase count, active days) — the feature-redundancy audit run
    * before training on engineered features (|r| → 1 means a feature
    * buys nothing and destabilizes linear models). q57 computes one
    * corr pair inline; this is the p×p matrix as ONE pass.
    *
    * Exactness: every feature is an exact integer, so all sufficient
    * statistics (Σx, Σx², Σxy, n) fold as exact BIGINTs in a single
    * wide aggregate; the FINAL moment products (n·Σxy, Σx·Σy, …) are
    * formed in doubles with identical op shapes in both engines —
    * pseudo-sf1 measured n·Σx² past int64 (a loud ANSI overflow, not a
    * silent wrap), so the exact-integer product is not scale-safe; the
    * double form is deterministic (each op correctly rounded over
    * exactly-converted BIGINT inputs) and its cancellation error is
    * ~1e-16 relative, far under the 6-decimal rounding.
    *
    * Scale shape: one user-grain aggregate over the scan, ONE global
    * wide fold of 15 sums, then pure arithmetic on a 1-row frame
    * melted to C(p,2) = 6 output rows. */
  def q227FeatureCorr(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.events(spark, dir).groupBy("user_id").agg(
      count(lit(1)).as("f_events"),
      sum(expr("cast(round(value * 100, 0) as bigint)")).as("f_spend"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("f_purchases"),
      countDistinct(to_date(col("ts"))).as("f_days"))
    val pairs = for {
      i <- CorrFeatures.indices; j <- CorrFeatures.indices if i < j
    } yield (CorrFeatures(i), CorrFeatures(j))
    val sums =
      CorrFeatures.map(f => sum(col(f)).as(s"sx_$f")) ++
        CorrFeatures.map(f => sum(col(f) * col(f)).as(s"sxx_$f")) ++
        pairs.map { case (a, b) =>
          sum(col(a) * col(b)).as(s"sxy_${a}_$b")
        }
    val wide = feats.agg(count(lit(1)).as("n"), sums: _*)
    def dbl(c: String): Column = col(c).cast("double")
    wide.select(col("n"), explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("fa"), lit(b).as("fb"),
          (dbl("n") * dbl(s"sxy_${a}_$b") -
            dbl(s"sx_$a") * dbl(s"sx_$b")).as("num"),
          (dbl("n") * dbl(s"sxx_$a") -
            dbl(s"sx_$a") * dbl(s"sx_$a")).as("dena"),
          (dbl("n") * dbl(s"sxx_$b") -
            dbl(s"sx_$b") * dbl(s"sx_$b")).as("denb"))
      }: _*)).as("p"))
      .select(col("p.fa").as("feature_a"), col("p.fb").as("feature_b"),
        col("n").as("n_users"),
        round(col("p.num").cast("double") /
          (sqrt(col("p.dena").cast("double")) *
            sqrt(col("p.denb").cast("double"))), 6).as("pearson_r"))
      .orderBy("feature_a", "feature_b")
  }

  /** q306 — CRAMÉR'S V ASSOCIATION MATRIX: the effect-size companion
    * to q201's single chi² test, over the three categorical attribute
    * pairs of the customer⋈orders base (nation×segment,
    * nation×priority, segment×priority) — χ² alone grows with N, so
    * at warehouse scale EVERYTHING is "significant"; V = √(χ²/(N·
    * min(r−1, c−1))) ∈ [0,1] is the number that says whether the
    * association is real structure (stratify on it) or noise
    * (ignore it).
    *
    * Exactness: contingency cells fold exact; each cell's (o−e)²/e
    * micro-quantizes before the χ² fold (the q201 discipline); V is
    * one √ of a division of the exact fold.
    *
    * Scale shape: the fact⋈dim join collapses immediately to three
    * enum-sized contingency profiles (≤ 25×5 cells); the densify
    * cross join runs on attribute DISTINCTS, never rows. */
  def q306CramersV(spark: SparkSession, dir: String): DataFrame = {
    // read by all three attribute pairs
    val base = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority").as("priority"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").cast("string").as("nation"),
          col("c_mktsegment").as("segment")), Seq("o_custkey"))
      .select("nation", "segment", "priority")
      .localCheckpoint()
    def pairV(a: String, b: String): DataFrame = {
      val cells = base.groupBy(col(a).as("ka"), col(b).as("kb"))
        .agg(count(lit(1)).as("n_ij"))
      val dense = cells.select("ka").distinct()
        .crossJoin(broadcast(cells.select("kb").distinct()))
        .join(cells, Seq("ka", "kb"), "left")
        .select(col("ka"), col("kb"),
          coalesce(col("n_ij"), lit(0L)).as("n_ij"))
      val wA = org.apache.spark.sql.expressions.Window.partitionBy("ka")
      val wB = org.apache.spark.sql.expressions.Window.partitionBy("kb")
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val terms = dense
        .withColumn("n_i", sum(col("n_ij")).over(wA))
        .withColumn("n_j", sum(col("n_ij")).over(wB))
        .withColumn("n_all", sum(col("n_ij")).over(wAll))
        .withColumn("e",
          (col("n_i") * col("n_j")).cast("double") / col("n_all"))
        .withColumn("term_micro", expr(
          "cast(round((n_ij - e) * (n_ij - e) / e * 1e6, 0) as bigint)"))
      terms.agg(
        max(col("n_all")).as("n"),
        count_distinct(col("ka")).as("r"),
        count_distinct(col("kb")).as("c"),
        (sum(col("term_micro")).cast("double") / 1e6).as("chi2"))
        .select(lit(s"$a x $b").as("pair"), col("n"), col("r"), col("c"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("chi2") / (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }
    pairV("nation", "segment")
      .unionByName(pairV("nation", "priority"))
      .unionByName(pairV("segment", "priority"))
      .orderBy("pair")
  }

  /** q312 SMD balance threshold (the conventional 0.1 rule). */
  private[graft] val SmdThreshold = 0.1

  /** q312 — COVARIATE BALANCE AUDIT of the q165 experiment's
    * randomization: per user-grain feature (the q227 vector), the
    * standardized mean difference between arms,
    * SMD = (x̄_A − x̄_B)/√((s²_A + s²_B)/2) — the pre-readout check
    * that the hash split didn't land unlucky on any covariate
    * (|SMD| < [[SmdThreshold]] is the conventional balance rule). An
    * imbalanced covariate is exactly when q167's CUPED adjustment
    * stops being optional.
    *
    * Exactness: features are exact integers per user; per-arm n/Σ/Σ²
    * fold exactly in ONE wide conditional aggregate; each SMD is a
    * fixed double expression, mirrored verbatim. */
  def q312CovariateBalance(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.events(spark, dir).groupBy("user_id").agg(
      count(lit(1)).as("f_events"),
      sum(expr("cast(round(value * 100, 0) as bigint)")).as("f_spend"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("f_purchases"),
      countDistinct(to_date(col("ts"))).as("f_days"))
      .withColumn("in_a",
        pmod(graft.functions.Hashing.md5Hash60(
          concat(lit("arm:"), col("user_id"))), lit(2)) === 0)
    val sums = CorrFeatures.flatMap { f =>
      Seq(sum(when(col("in_a"), col(f)).otherwise(0L)).as(s"sa_$f"),
        sum(when(col("in_a"), col(f) * col(f)).otherwise(0L))
          .as(s"qa_$f"),
        sum(when(!col("in_a"), col(f)).otherwise(0L)).as(s"sb_$f"),
        sum(when(!col("in_a"), col(f) * col(f)).otherwise(0L))
          .as(s"qb_$f"))
    } ++ Seq(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("nb"))
    val wide = feats.agg(sums.head, sums.tail: _*)
    def dbl(c: String): Column = col(c).cast("double")
    val rows = CorrFeatures.map { f =>
      val ma = dbl(s"sa_$f") / col("na")
      val mb = dbl(s"sb_$f") / col("nb")
      val va = (dbl(s"qa_$f") - dbl(s"sa_$f") * ma) / (col("na") - 1)
      val vb = (dbl(s"qb_$f") - dbl(s"sb_$f") * mb) / (col("nb") - 1)
      val smd = (ma - mb) / sqrt((va + vb) / lit(2.0))
      struct(lit(f).as("feature"), col("na").as("n_a"),
        col("nb").as("n_b"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round(smd, 6).as("smd"),
        (abs(smd) < SmdThreshold).as("balanced"))
    }
    wide.select(inline(array(rows: _*))).orderBy("feature")
  }

  /** q313 — LEAVE-ONE-OUT TARGET-ENCODING LEAKAGE AUDIT: q197 encodes
    * each category with its (smoothed) mean target, which leaks each
    * row's OWN label into its feature; the leakage-free form is the
    * LOO mean (S − yᵢ)/(n − 1). This audit measures HOW FAR the two
    * diverge per category — mean and max |LOO − naive| — which is
    * exactly the magnitude of label information the naive encoding
    * injects (decays as 1/n: harmless for big categories, a leak for
    * rare ones — the rule this query turns into numbers).
    *
    * Exactness: |n·yᵢ − S| folds row-wise as exact integers (the LOO
    * deviation times n(n−1), kept integral; the fold runs in
    * decimal(38) — n·y products pass int64 at scale, the q274 rule);
    * the reported shifts are fixed double expressions over the exact
    * folds, mirrored verbatim. */
  def q313LooEncoding(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir).select(
      col("o_orderpriority").as("category"),
      expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val prof = rows.groupBy("category")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"))
    val dev = rows.join(broadcast(prof), Seq("category"))
      .select(col("category"),
        abs(col("cents").cast("decimal(38,0)") * col("n") - col("s"))
          .as("d"))
      .groupBy("category")
      .agg(sum("d").as("sd"), max("d").as("md"))
    prof.join(dev, Seq("category"))
      .select(col("category"), col("n"),
        round(col("s").cast("double") / col("n") / 100, 6)
          .as("naive_mean"),
        round(col("sd").cast("double") / col("n") /
          (col("n").cast("double") * (col("n") - 1)) / 100, 6)
          .as("mean_loo_shift"),
        round(col("md").cast("double") /
          (col("n").cast("double") * (col("n") - 1)) / 100, 6)
          .as("max_loo_shift"))
      .orderBy("category")
  }

  /** q335 CV folds. */
  private[graft] val CvFolds = 5

  /** q335 — STRATIFIED K-FOLD ASSIGNMENT + balance audit: every
    * embedding row hash-assigned to one of [[CvFolds]] folds, with
    * the per-(fold, label) count matrix and each fold's deviation
    * from the stratum's expected share — the split a cross-validated
    * eval actually trains on, plus the audit that the hash didn't
    * land unlucky on any class (the q312 balance idea applied to CV
    * folds). Deterministic fold membership (salted 60-bit hash mod
    * K — the q97/q112 never-rand() rule): reproducible on re-runs
    * and across engines.
    *
    * Exactness: counts exact; deviation one division. */
  def q335FoldBalance(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.embeddings(spark, dir)
      .select(col("label"),
        pmod(graft.functions.Hashing.md5Hash60(concat(lit("fold:"),
          col("vec_id").cast("string"))), lit(CvFolds)).as("fold"))
    val cells = rows.groupBy("label", "fold")
      .agg(count(lit(1)).as("n"))
    val strata = cells.groupBy("label").agg(sum("n").as("n_label"))
    cells.join(broadcast(strata), Seq("label"))
      .select(col("label"), col("fold").cast("int").as("fold"), col("n"),
        col("n_label"),
        round(col("n").cast("double") / col("n_label"), 6)
          .as("fold_share"),
        round(col("n").cast("double") / col("n_label") -
          lit(1.0) / CvFolds, 6).as("share_deviation"))
      .orderBy("label", "fold")
  }

  /** q336 — SPEARMAN RANK CORRELATION of document length vs quality
    * per source: the monotone-association companion to q227's Pearson
    * matrix — Pearson on MIDRANKS (the exact tie-corrected Spearman
    * ρ), which no outlier document can dominate. "Does longer mean
    * better in this source?" is the curation question behind every
    * length-based filter (q122/q130).
    *
    * Exactness: midranks are exact half-integers — 2·midrank =
    * 2·rank_min + (ties − 1) folds as exact BIGINTs via two window
    * counts — so ALL Pearson moments are exact integer folds
    * (products in decimal(38)/HUGEINT) and ρ is one fixed double
    * expression. The quality score is q39's integer word count —
    * already exact. */
  def q336SpearmanLengthQuality(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"),
        size(expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
          .cast("long").as("n_words"))
    def midrank2(c: String): Column = {
      // 2·midrank = 2·rank_min + ties − 1 (exact half-integer ranks
      // doubled into BIGINTs)
      val r = rank().over(org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col(c)))
      val t = count(lit(1)).over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("source"), col(c)))
      r.cast("long") * 2 + t - 1
    }
    val ranked = docs
      .withColumn("x", midrank2("n_chars"))
      .withColumn("y", midrank2("n_words"))
    def d(c: String): Column = col(c).cast("double")
    ranked.groupBy("source")
      .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .withColumn("num", d("k") * d("sxy") - d("sx") * d("sy"))
      .withColumn("denx", d("k") * d("sxx") - d("sx") * d("sx"))
      .withColumn("deny", d("k") * d("syy") - d("sy") * d("sy"))
      .filter(col("denx") > 0 && col("deny") > 0)
      .select(col("source"), col("k").as("n_docs"),
        round(col("num") / (sqrt(col("denx")) * sqrt(col("deny"))), 6)
          .as("spearman_rho"))
      .orderBy("source")
  }

  private def featureCorrSql: String = {
    val pairs = for {
      i <- CorrFeatures.indices; j <- CorrFeatures.indices if i < j
    } yield (CorrFeatures(i), CorrFeatures(j))
    val sumCols = (
      CorrFeatures.map(f => s"CAST(sum($f) AS BIGINT) AS sx_$f") ++
        CorrFeatures.map(f => s"CAST(sum($f * $f) AS BIGINT) AS sxx_$f") ++
        pairs.map { case (a, b) =>
          s"CAST(sum($a * $b) AS BIGINT) AS sxy_${a}_$b"
        }).mkString(",\n       ")
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val arms = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS feature_a, '$b' AS feature_b, n AS n_users,
         |  round((${d("n")} * ${d(s"sxy_${a}_$b")}
         |         - ${d(s"sx_$a")} * ${d(s"sx_$b")}) /
         |        (sqrt(${d("n")} * ${d(s"sxx_$a")}
         |              - ${d(s"sx_$a")} * ${d(s"sx_$a")}) *
         |         sqrt(${d("n")} * ${d(s"sxx_$b")}
         |              - ${d(s"sx_$b")} * ${d(s"sx_$b")})), 6)
         |    AS pearson_r
         |FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH feats AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS f_events,
      |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |           AS f_spend,
      |         CAST(count(*) FILTER (WHERE event_type = 'purchase')
      |              AS BIGINT) AS f_purchases,
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS f_days
      |  FROM events GROUP BY 1),
      |wide AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |       $sumCols
      |  FROM feats)
      |SELECT * FROM ($arms)
      |ORDER BY feature_a, feature_b""".stripMargin
  }

  /** q306 oracle: one block per attribute pair, generated to stay
    * mirrored with [[q306CramersV]]'s per-pair plan. */
  private def cramersVSql: String = {
    val pairs = Seq(("nation", "segment"), ("nation", "priority"),
      ("segment", "priority"))
    val blocks = pairs.map { case (a, b) =>
      s"""SELECT '$a x $b' AS pair, n, r, c, (r - 1) * (c - 1) AS dof,
         |  round(chi2, 4) AS chi2,
         |  round(sqrt(chi2 / (CAST(n AS DOUBLE)
         |    * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
         |FROM (
         |  SELECT CAST(max(n_all) AS BIGINT) AS n,
         |         CAST(count(DISTINCT ka) AS BIGINT) AS r,
         |         CAST(count(DISTINCT kb) AS BIGINT) AS c,
         |         CAST(sum(CAST(round((n_ij - e) * (n_ij - e) / e * 1e6,
         |           0) AS BIGINT)) AS DOUBLE) / 1e6 AS chi2
         |  FROM (
         |    SELECT *, CAST(n_i * n_j AS DOUBLE) / n_all AS e FROM (
         |      SELECT *,
         |             CAST(sum(n_ij) OVER (PARTITION BY ka) AS BIGINT)
         |               AS n_i,
         |             CAST(sum(n_ij) OVER (PARTITION BY kb) AS BIGINT)
         |               AS n_j,
         |             CAST(sum(n_ij) OVER () AS BIGINT) AS n_all
         |      FROM (
         |        SELECT ga.ka, gb.kb, CAST(COALESCE(cc.n_ij, 0) AS BIGINT)
         |                 AS n_ij
         |        FROM (SELECT DISTINCT $a AS ka FROM base) ga
         |        CROSS JOIN (SELECT DISTINCT $b AS kb FROM base) gb
         |        LEFT JOIN (SELECT $a AS ka, $b AS kb,
         |                          CAST(count(*) AS BIGINT) AS n_ij
         |                   FROM base GROUP BY 1, 2) cc
         |          USING (ka, kb)))))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT CAST(c.c_nationkey AS VARCHAR) AS nation,
       |         c.c_mktsegment AS segment,
       |         o.o_orderpriority AS priority
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
       |$blocks
       |ORDER BY pair""".stripMargin
  }

  /** q312 oracle: one SELECT per feature over the shared wide fold. */
  private def covariateBalanceSql: String = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val arms = CorrFeatures.map { f =>
      val ma = s"${d(s"sa_$f")} / na"
      val mb = s"${d(s"sb_$f")} / nb"
      val va = s"(${d(s"qa_$f")} - ${d(s"sa_$f")} * ($ma)) / (na - 1)"
      val vb = s"(${d(s"qb_$f")} - ${d(s"sb_$f")} * ($mb)) / (nb - 1)"
      val smd = s"(($ma) - ($mb)) / sqrt((($va) + ($vb)) / 2.0)"
      s"""SELECT '$f' AS feature, na AS n_a, nb AS n_b,
         |  round($ma, 6) AS mean_a, round($mb, 6) AS mean_b,
         |  round($smd, 6) AS smd,
         |  abs($smd) < $SmdThreshold AS balanced
         |FROM wide""".stripMargin
    }.mkString("\nUNION ALL\n")
    val condSums = CorrFeatures.flatMap { f =>
      Seq(
        s"CAST(sum(CASE WHEN in_a THEN $f ELSE 0 END) AS BIGINT) AS sa_$f",
        s"CAST(sum(CASE WHEN in_a THEN $f * $f ELSE 0 END) AS BIGINT) AS qa_$f",
        s"CAST(sum(CASE WHEN in_a THEN 0 ELSE $f END) AS BIGINT) AS sb_$f",
        s"CAST(sum(CASE WHEN in_a THEN 0 ELSE $f * $f END) AS BIGINT) AS qb_$f")
    }.mkString(",\n         ")
    s"""WITH feats AS (
       |  SELECT user_id,
       |         CAST(count(*) AS BIGINT) AS f_events,
       |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
       |           AS BIGINT) AS f_spend,
       |         CAST(sum(CASE WHEN event_type = 'purchase'
       |                       THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_purchases,
       |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
       |           AS f_days,
       |         ('0x' || substr(md5('arm:' || user_id), 1, 15))::BIGINT
       |           % 2 = 0 AS in_a
       |  FROM events GROUP BY user_id),
       |wide AS (
       |  SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
       |           AS na,
       |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
       |           AS nb,
       |         $condSums
       |  FROM feats)
       |$arms
       |ORDER BY feature""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q335_fold_balance", q335FoldBalance _,
      s"""WITH rows_ AS (
        |  SELECT label,
        |         CAST(('0x' || substr(md5('fold:' || vec_id), 1, 15))
        |           ::BIGINT % $CvFolds AS INTEGER) AS fold
        |  FROM embeddings),
        |cells AS (
        |  SELECT label, fold, CAST(count(*) AS BIGINT) AS n
        |  FROM rows_ GROUP BY 1, 2),
        |strata AS (
        |  SELECT label, CAST(sum(n) AS BIGINT) AS n_label
        |  FROM cells GROUP BY 1)
        |SELECT c.label, c.fold, c.n, s.n_label,
        |       round(CAST(c.n AS DOUBLE) / s.n_label, 6) AS fold_share,
        |       round(CAST(c.n AS DOUBLE) / s.n_label
        |             - 1.0 / $CvFolds, 6) AS share_deviation
        |FROM cells c JOIN strata s USING (label)
        |ORDER BY c.label, c.fold""".stripMargin),
    QueryDef("q336_spearman_length_quality", q336SpearmanLengthQuality _,
      """WITH docs AS (
        |  SELECT source, n_chars,
        |         CAST(len(list_filter(string_split(trim(text), ' '),
        |                              w -> length(w) > 0)) AS BIGINT)
        |           AS n_words
        |  FROM documents),
        |ranked AS (
        |  SELECT source,
        |         CAST(rank() OVER (PARTITION BY source ORDER BY n_chars)
        |           AS BIGINT) * 2
        |           + CAST(count(*) OVER (PARTITION BY source, n_chars)
        |             AS BIGINT) - 1 AS x,
        |         CAST(rank() OVER (PARTITION BY source ORDER BY n_words)
        |           AS BIGINT) * 2
        |           + CAST(count(*) OVER (PARTITION BY source, n_words)
        |             AS BIGINT) - 1 AS y
        |  FROM docs),
        |m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM ranked GROUP BY 1),
        |f AS (
        |  SELECT source, k,
        |         CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        |         CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT source, k AS n_docs,
        |       round(num / (sqrt(denx) * sqrt(deny)), 6) AS spearman_rho
        |FROM f WHERE denx > 0 AND deny > 0
        |ORDER BY source""".stripMargin),
    QueryDef("q313_loo_encoding", q313LooEncoding _,
      """WITH rows_ AS (
        |  SELECT o_orderpriority AS category,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |prof AS (
        |  SELECT category, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cents) AS BIGINT) AS s
        |  FROM rows_ GROUP BY 1),
        |dev AS (
        |  SELECT r.category,
        |         sum(abs(CAST(r.cents AS HUGEINT) * p.n - p.s)) AS sd,
        |         max(abs(CAST(r.cents AS HUGEINT) * p.n - p.s)) AS md
        |  FROM rows_ r JOIN prof p USING (category)
        |  GROUP BY 1)
        |SELECT p.category, p.n,
        |       round(CAST(p.s AS DOUBLE) / p.n / 100, 6) AS naive_mean,
        |       round(CAST(d.sd AS DOUBLE) / p.n
        |             / (CAST(p.n AS DOUBLE) * (p.n - 1)) / 100, 6)
        |         AS mean_loo_shift,
        |       round(CAST(d.md AS DOUBLE)
        |             / (CAST(p.n AS DOUBLE) * (p.n - 1)) / 100, 6)
        |         AS max_loo_shift
        |FROM prof p JOIN dev d USING (category)
        |ORDER BY p.category""".stripMargin),
    QueryDef("q312_covariate_balance", q312CovariateBalance _,
      covariateBalanceSql),
    QueryDef("q306_cramers_v", q306CramersV _, cramersVSql),
    QueryDef("q227_feature_corr", q227FeatureCorr _, featureCorrSql),
    QueryDef("q196_temporal_split", q196TemporalSplit _,
      s"""WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |bounds AS (
        |  SELECT min(us) + (max(us) - min(us)) * 4 // 5 AS t_star
        |  FROM ev),
        |tagged AS (
        |  SELECT user_id, us,
        |         CASE WHEN us < (SELECT t_star FROM bounds) - $EmbargoUs
        |                THEN '1_train'
        |              WHEN us < (SELECT t_star FROM bounds)
        |                THEN '2_embargo'
        |              ELSE '3_test' END AS split
        |  FROM ev)
        |SELECT split, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       min(us) AS min_us, max(us) AS max_us
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin),
    QueryDef("q197_target_encoding", q197TargetEncoding _,
      s"""WITH rows_ AS (
        |  SELECT o_orderpriority AS category,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |global AS (
        |  SELECT CAST(sum(cents) AS BIGINT) AS s_all, count(*) AS n_all
        |  FROM rows_),
        |per_cat AS (
        |  SELECT category, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        |  FROM rows_ GROUP BY category)
        |SELECT category, n,
        |       round(CAST(s AS DOUBLE) / n / 100.0, 6) AS raw_mean,
        |       round((CAST(s AS DOUBLE) +
        |         $SmoothM * (CAST((SELECT s_all FROM global) AS DOUBLE)
        |           / (SELECT n_all FROM global)))
        |         / (n + $SmoothM) / 100.0, 6) AS encoded,
        |       round(CAST(n AS DOUBLE) / (n + $SmoothM), 6)
        |         AS shrink_weight
        |FROM per_cat ORDER BY category""".stripMargin),
    QueryDef("q198_mutual_information", q198MutualInformation _,
      """WITH cells AS (
        |  SELECT event_type AS t,
        |         CAST(isodow(CAST(CAST(ts AS TIMESTAMP) AS DATE)) - 1
        |              AS INTEGER) AS dow,
        |         count(*) AS n_ij
        |  FROM events GROUP BY 1, 2),
        |row_m AS (SELECT t, CAST(sum(n_ij) AS BIGINT) AS n_i
        |          FROM cells GROUP BY t),
        |col_m AS (SELECT dow, CAST(sum(n_ij) AS BIGINT) AS n_j
        |          FROM cells GROUP BY dow),
        |total AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n_all FROM cells),
        |terms AS (
        |  SELECT c.t, c.dow, c.n_ij,
        |         log2(CAST(c.n_ij * (SELECT n_all FROM total) AS DOUBLE)
        |              / (r.n_i * m.n_j)) AS pmi_bits,
        |         (SELECT n_all FROM total) AS n_all
        |  FROM cells c
        |  JOIN row_m r ON r.t = c.t
        |  JOIN col_m m ON m.dow = c.dow),
        |quant AS (
        |  SELECT t, dow, n_ij, pmi_bits,
        |         CAST(round(pmi_bits * n_ij / n_all * 1e6, 0) AS BIGINT)
        |           AS term_micro
        |  FROM terms),
        |mi AS (SELECT CAST(sum(term_micro) AS DOUBLE) / 1e6
        |         AS mi_bits_total FROM quant)
        |SELECT t, dow, n_ij,
        |       round(pmi_bits, 6) AS pmi_bits,
        |       round((SELECT mi_bits_total FROM mi), 6) AS mi_bits_total
        |FROM quant ORDER BY t, dow""".stripMargin),
    QueryDef("q201_chi_square", q201ChiSquare _,
      """WITH obs AS (
        |  SELECT event_type AS t,
        |         CAST(isodow(CAST(CAST(ts AS TIMESTAMP) AS DATE)) - 1
        |              AS INTEGER) AS dow,
        |         count(*) AS n_ij
        |  FROM events GROUP BY 1, 2),
        |cells AS (
        |  SELECT tt.t, dd.dow,
        |         CAST(COALESCE(o.n_ij, 0) AS BIGINT) AS n_ij
        |  FROM (SELECT DISTINCT t FROM obs) tt
        |  CROSS JOIN (SELECT DISTINCT dow FROM obs) dd
        |  LEFT JOIN obs o ON o.t = tt.t AND o.dow = dd.dow),
        |row_m AS (SELECT t, CAST(sum(n_ij) AS BIGINT) AS n_i
        |          FROM cells GROUP BY t),
        |col_m AS (SELECT dow, CAST(sum(n_ij) AS BIGINT) AS n_j
        |          FROM cells GROUP BY dow),
        |total AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n_all FROM cells),
        |terms AS (
        |  SELECT c.t, c.dow, c.n_ij,
        |         CAST(r.n_i * m.n_j AS DOUBLE)
        |           / (SELECT n_all FROM total) AS e
        |  FROM cells c
        |  JOIN row_m r ON r.t = c.t
        |  JOIN col_m m ON m.dow = c.dow),
        |quant AS (
        |  SELECT t, dow, n_ij, e,
        |         CAST(round((n_ij - e) * (n_ij - e) / e * 1e6, 0)
        |              AS BIGINT) AS term_micro
        |  FROM terms),
        |stat AS (
        |  SELECT CAST(sum(term_micro) AS DOUBLE) / 1e6 AS chi2_total,
        |         (count(DISTINCT t) - 1) * (count(DISTINCT dow) - 1)
        |           AS dof
        |  FROM quant)
        |SELECT t, dow, n_ij,
        |       round(e, 6) AS expected,
        |       round((n_ij - e) / sqrt(e), 6) AS std_residual,
        |       round((SELECT chi2_total FROM stat), 6) AS chi2_total,
        |       (SELECT dof FROM stat) AS dof
        |FROM quant ORDER BY t, dow""".stripMargin))
}
