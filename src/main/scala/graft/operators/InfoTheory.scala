package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] information-theoretic corpus/stream audits:
  *
  *  - q231 — pairwise JENSEN–SHANNON DIVERGENCE between source unigram
  *    distributions over a fixed hashed feature space: the symmetric,
  *    bounded (≤ 1 bit) "how different is what these sources SAY"
  *    measure used to design data mixes (q99 weights sources by size;
  *    this measures redundancy between them — two sources with near-0
  *    JSD are interchangeable, one can be down-weighted). KL alone is
  *    asymmetric and unbounded on disjoint support; JSD is the
  *    mixture-smoothed fix (Lin 1991, PAPERS.md).
  *  - q232 — MARKOV TRANSITION ENTROPY of the event stream: per
  *    antecedent event type, the conditional entropy H(next | prev) of
  *    the q84 transition matrix, plus the overall entropy rate — the
  *    sequence-predictability audit ("how much signal is there in
  *    event ORDER for a sequence model to learn?"). A near-uniform row
  *    (h ≈ log2 |types|) carries no order signal; a near-0 row is a
  *    deterministic funnel step.
  *
  * Determinism discipline (the q169/q198 micro-quantization pattern):
  * every per-bucket / per-transition entropy term is a product of
  * correctly-rounded divisions of exact integers and one log2 of such
  * a ratio (log2 of exact ratios is cross-engine-safe — the q123
  * precedent; pow() is not), micro-quantized to BIGINT micro-bits
  * BEFORE the fold so the sum is order-free; totals divide once.
  *
  * Scale shape (q231): one tokenize+hash pass collapsed to the
  * (source, bucket) table — the distribution per source is a FIXED
  * 1024-row vector (the q147 hashed-feature discipline), so the
  * pairwise stage is |sources|²·1024 rows of pure arithmetic at any
  * corpus size. Add-one smoothing over the fixed bucket space keeps
  * both distributions strictly positive (the q151 precedent).
  * Scale shape (q232): one lead-window pass per user timeline (the
  * q84 kernel), collapsed to the |types|² transition table; all
  * entropy arithmetic runs on that profile.
  *
  * Also here: the Theil index decomposition of customer spend (q352).
  */
object InfoTheory {

  /** Hashed unigram feature-space size for q231 (matches the q147
    * bucketing discipline; fixed => distribution tables broadcast). */
  private[graft] val JsdBuckets = 1024

  /** q231 — pairwise JSD (in bits) between source unigram
    * distributions over [[JsdBuckets]] hashed buckets. */
  def q231SourceJsd(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        explode(expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
          .as("w"))
      .withColumn("b", pmod(Hashing.md5Hash60(col("w")), lit(JsdBuckets)))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
    // dense (source, bucket) spine: every source gets all buckets so
    // the add-one smoothed distributions are total
    val spine = counts.select("source").distinct()
      .crossJoin(spark.range(JsdBuckets).toDF("b"))
    val dense = spine.join(counts, Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val totals = dense.groupBy("source").agg(sum(col("c")).as("n"))
    val dist = dense.join(totals, Seq("source"))
      .select(col("source"), col("b"), col("n"),
        ((col("c") + lit(1L)).cast("double") /
          (col("n") + lit(JsdBuckets.toLong)).cast("double")).as("p"))
    val a = dist.select(col("source").as("source_a"), col("b"),
      col("n").as("n_a"), col("p").as("pa"))
    val bSide = dist.select(col("source").as("source_b"), col("b"),
      col("n").as("n_b"), col("p").as("pb"))
    a.join(bSide, Seq("b")).filter(col("source_a") < col("source_b"))
      .withColumn("m", (col("pa") + col("pb")) / 2.0)
      .withColumn("term_micro", expr(
        """cast(round((0.5 * pa * log2(pa / m)
          |           + 0.5 * pb * log2(pb / m)) * 1e6, 0) as bigint)"""
          .stripMargin))
      .groupBy("source_a", "source_b")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        (sum(col("term_micro")).cast("double") / 1e6).as("jsd"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        round(col("jsd"), 6).as("jsd_bits"))
      .orderBy("source_a", "source_b")
  }

  /** q232 — conditional entropy H(next | prev) per antecedent event
    * type over the q84 transition matrix, plus the overall entropy
    * rate as a `__ALL__` row. */
  def q232TransitionEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n_ij"))
    def d(c: Column): Column = c.cast("double")
    val rows = trans
      .withColumn("n_i", sum(col("n_ij")).over(
        Window.partitionBy("event_type")))
      .withColumn("term_micro", expr(
        """cast(round(-(cast(n_ij as double) / cast(n_i as double))
          |            * log2(cast(n_ij as double) / cast(n_i as double))
          |            * 1e6, 0) as bigint)""".stripMargin))
    val perPrev = rows.groupBy(col("event_type").as("prev_type"))
      .agg(max(col("n_i")).as("n_trans"),
        count(lit(1)).as("n_next_types"),
        round(sum(col("term_micro")).cast("double") / 1e6, 6).as("h_bits"))
    // overall entropy rate H = Σ_ij -(n_ij/N)·log2(n_ij/n_i): the SAME
    // per-transition log ratio, weighted by the global frequency —
    // quantized independently so the fold stays order-free
    val total = trans.agg(sum(col("n_ij")).as("n_all"))
    val overall = rows.crossJoin(broadcast(total))
      .withColumn("g_micro", expr(
        """cast(round(-(cast(n_ij as double) / cast(n_all as double))
          |            * log2(cast(n_ij as double) / cast(n_i as double))
          |            * 1e6, 0) as bigint)""".stripMargin))
      .agg(max(col("n_all")).as("n_trans"),
        count(lit(1)).as("n_next_types"),
        round(sum(col("g_micro")).cast("double") / 1e6, 6).as("h_bits"))
      .select(lit("__ALL__").as("prev_type"), col("n_trans"),
        col("n_next_types"), col("h_bits"))
    perPrev.unionAll(overall).orderBy("prev_type")
  }

  /** Report size for q241 (most-anomalous users). */
  private[graft] val AnomalyTopK = 20

  /** q241 — BEHAVIORAL ANOMALY SCORING by transition surprisal: score
    * every user by the mean −log2 P(next | prev) of their OWN event
    * transitions under the GLOBAL q84/q232 transition model, and
    * report the [[AnomalyTopK]] most surprising users — the
    * bot/abuse/broken-client screen a production event pipeline runs
    * daily ("whose behavior does the population model least
    * explain?"). q232 says how predictable the stream is overall;
    * this finds WHO deviates.
    *
    * Exactness: the per-transition surprisal is quantized ONCE on the
    * |types|² model profile (micro-bits, the q169/q123 discipline) and
    * joined back BROADCAST, so each user's total is an exact BIGINT
    * sum of model constants — order-free — and the mean is one
    * division; ranking breaks ties on user_id.
    *
    * Scale shape: one lead-window pass per user timeline, one
    * broadcast model join, one user-grain fold, TakeOrdered top-K
    * (map-side partial top-K — no global sort). */
  /** The per-user transition stream (ordered lead pairs): the input
    * of the shared [[surprisalModel]] and of q241's scoring. */
  private def userPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("next_type"))
  }

  /** The quantized surprisal model (|types|² profile), cached —
    * trained on the FULL stream (the stationary snapshot a production
    * scorer trains once and applies per batch). */
  private[graft] def surprisalModel(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"surprisal_model|$dir")(
      userPairs(spark, dir).groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n_ij"))
        .withColumn("n_i", sum(col("n_ij")).over(
          Window.partitionBy("event_type")))
        .select(col("event_type"), col("next_type"), expr(
          """cast(round(-log2(cast(n_ij as double) / cast(n_i as double))
            |            * 1e6, 0) as bigint)""".stripMargin).as("s_micro")))

  def q241SurprisalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    userPairs(spark, dir)
      .join(broadcast(surprisalModel(spark, dir)),
        Seq("event_type", "next_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_trans"), sum(col("s_micro")).as("s_sum"))
      .withColumn("bits",
        col("s_sum").cast("double") / col("n_trans").cast("double") / 1e6)
      .orderBy(col("bits").desc, col("user_id"))
      .limit(AnomalyTopK)
      .select(col("user_id"), col("n_trans"),
        round(col("bits"), 6).as("surprisal_bits"))
  }

  /** q244 — INCREMENTAL SURPRISAL MAINTENANCE across a batch boundary
    * (the q166 nightly-refresh discipline applied to the q241 scorer):
    * split the stream at the data-derived midpoint, fold each half's
    * per-user surprisal independently, carry only (last type, first
    * type, exact sum, count) per user across the boundary, and stitch
    * with the ONE boundary transition per user — the state a
    * production scorer persists between batches is O(users), never
    * O(events), and no event is ever re-read.
    *
    * The model is the FULL-stream snapshot ([[surprisalModel]] — what
    * a deployed scorer trains once and applies per batch), so the
    * ORACLE is the plain full recompute over all users: the driver's
    * hash compare literally proves incremental == full (the
    * q166/q135 equivalence class). `StreamingSurprisalSpec` drives
    * the same state recurrence through `mapGroupsWithState`. */
  def q244IncrementalSurprisal(spark: SparkSession,
      dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val flagged = ev.crossJoin(broadcast(cut))
    val model = surprisalModel(spark, dir)
    // fold ONE batch: per user, within-batch transition sum/count plus
    // the boundary anchors (first/last event type, picked by the
    // unique (us, event_id) key — tie-free min/max structs)
    def foldBatch(batch: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = batch
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .join(broadcast(model), Seq("event_type", "next_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_t"), sum(col("s_micro")).as("s_t"))
      val anchors = batch.groupBy("user_id")
        .agg(min(struct(col("us"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_type"),
          max(struct(col("us"), col("event_id"), col("event_type")))
            .getField("event_type").as("last_type"))
      anchors.join(pairs, Seq("user_id"), "left")
        .select(col("user_id"), col("first_type"), col("last_type"),
          coalesce(col("n_t"), lit(0L)).as("n_t"),
          coalesce(col("s_t"), lit(0L)).as("s_t"))
    }
    val b1 = foldBatch(flagged.filter(col("us") < col("cut"))
      .select("user_id", "us", "event_id", "event_type"))
      .select(col("user_id"), col("last_type").as("l1"),
        col("n_t").as("n1"), col("s_t").as("s1"))
    val b2 = foldBatch(flagged.filter(col("us") >= col("cut"))
      .select("user_id", "us", "event_id", "event_type"))
      .select(col("user_id"), col("first_type").as("f2"),
        col("n_t").as("n2"), col("s_t").as("s2"))
    val bridge = model.select(col("event_type").as("l1"),
      col("next_type").as("f2"), col("s_micro").as("s_b"))
    b1.join(b2, Seq("user_id"), "full_outer")
      .join(broadcast(bridge), Seq("l1", "f2"), "left")
      .select(col("user_id"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)) +
          when(col("l1").isNotNull && col("f2").isNotNull, 1L)
            .otherwise(0L)).as("n_trans"),
        (coalesce(col("s1"), lit(0L)) + coalesce(col("s2"), lit(0L)) +
          coalesce(col("s_b"), lit(0L))).as("s_sum"))
      .filter(col("n_trans") >= 1L)
      .select(col("user_id"), col("n_trans"),
        round(col("s_sum").cast("double") /
          col("n_trans").cast("double") / 1e6, 6).as("surprisal_bits"))
      .orderBy("user_id")
  }

  /** q321 — MARKOV NEXT-EVENT BACKTEST: train the q84 first-order
    * transition model on the FIRST time half, predict each
    * second-half transition's next type as the trained argmax row,
    * and score top-1 accuracy per antecedent against the
    * always-predict-the-h1-majority baseline — the honest "is the
    * sequence structure q232 measures actually PREDICTIVE
    * out-of-time?" eval (in-sample accuracy would just echo the
    * training counts). A transition belongs to the half its TARGET
    * event falls in, so no training pair leaks into the test set.
    *
    * Exactness: counts exact; argmaxes tie-break (count desc, type
    * asc) via row_number over the enum-sized transition profile;
    * accuracies single divisions. */
  def q321MarkovBacktest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val trans = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .crossJoin(broadcast(cut))
      .select(col("event_type").as("prev"), col("next_type").as("nxt"),
        (col("next_us") >= col("cut")).as("is_test"))
    val trainCounts = trans.filter(!col("is_test"))
      .groupBy("prev", "nxt").agg(count(lit(1)).as("n"))
    val wArg = org.apache.spark.sql.expressions.Window
      .partitionBy("prev").orderBy(col("n").desc, col("nxt"))
    val pred = trainCounts.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("prev"), col("nxt").as("pred_next"))
    val baseline = trans.filter(!col("is_test"))
      .groupBy("nxt").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("nxt")).limit(1)
      .select(col("nxt").as("base_next"))
    trans.filter(col("is_test"))
      .join(broadcast(pred), Seq("prev"))
      .crossJoin(broadcast(baseline))
      .groupBy("prev", "pred_next", "base_next")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("nxt") === col("pred_next"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("nxt") === col("base_next"), 1L).otherwise(0L))
          .as("n_base"))
      .select(col("prev"), col("pred_next"), col("n_test"),
        round(col("n_correct").cast("double") / col("n_test"), 6)
          .as("accuracy"),
        round(col("n_base").cast("double") / col("n_test"), 6)
          .as("baseline_accuracy"),
        (col("n_correct") >= col("n_base")).as("beats_baseline"))
      .orderBy("prev")
  }

  /** q341 — ENGAGEMENT-DIVERSITY SEGMENTATION: per user the Shannon
    * entropy of their event-TYPE mix (0 bits = single-behavior
    * specialist, log₂5 ≈ 2.32 = uniform generalist), folded to
    * quarter-bit segments with user counts, mean activity and mean
    * spend — the "do generalists spend more?" view that q186's
    * type-pair affinities can't give because it is USER-grain.
    *
    * Exactness: each −(c/n)·log₂(c/n) term is log₂ of an exact ratio
    * (blessed, q123) micro-quantized per (user, type) row (the q198
    * discipline), so the per-user entropy is an exact BIGINT sum of
    * ≤ |types| terms; segments are integer division of that sum;
    * per-segment means single divisions of exact folds. */
  def q341EngagementDiversity(spark: SparkSession, dir: String)
      : DataFrame = {
    val perUt = Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"),
        sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
    val perUser = perUt
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .select(col("user_id"), col("c"), col("cents"), col("n"),
        expr("cast(round(-(cast(c as double) / n) * " +
          "log2(cast(c as double) / n) * 1e6, 0) as bigint)")
          .as("term_mu"))
      .groupBy("user_id")
      .agg(sum("term_mu").as("ent_mu"), sum("c").as("n_events"),
        sum("cents").as("cents"))
    perUser
      .select(expr("ent_mu div 250000").as("segment"), col("n_events"),
        col("cents"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("ev"),
        sum("cents").as("sc"))
      .select(col("segment"),
        round(col("segment").cast("double") * 0.25, 2)
          .as("entropy_bits_lo"),
        col("n_users"),
        round(col("ev").cast("double") / col("n_users"), 4)
          .as("mean_events"),
        round(col("sc").cast("double") / col("n_users") / 100, 2)
          .as("mean_spend"))
      .orderBy("segment")
  }

  /** q352 — THEIL INDEX DECOMPOSITION of customer spend by nation:
    * T = (1/n)Σ(x/μ)ln(x/μ), split EXACTLY into between-nation and
    * within-nation components (Theil 1967 — the additive-decomposable
    * inequality measure; q211's per-nation Gini compares WITHIN
    * groups but cannot say how much inequality the grouping itself
    * explains). Between = Σ s_g·ln(s_g·n/n_g) over the nation profile;
    * within_g = (1/n_g)Σ(x·n_g/S_g)ln(x·n_g/S_g).
    *
    * Exactness: every log argument is a single ratio of exact BIGINTs
    * (x·n/S — products < 2⁵³), each per-row/per-group term is
    * micro-quantized to BIGINT before folding (the q331 quantized-log
    * discipline), and every share is one division.
    *
    * Scale shape: one customer-grain fold + one nation-profile pass;
    * the decomposition identity is spec-checked to quantization
    * tolerance. */
  def q352TheilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
        .as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("custkey"),
          col("c_nationkey").as("nation")), Seq("custkey"))
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val base = spend.crossJoin(broadcast(tot))
    val perNation = base
      .withColumn("t_micro", expr(
        """cast(round((cast(cents as double) * n / s) *
          |  ln(cast(cents as double) * n / s) * 1e6, 0) as bigint)"""
          .stripMargin))
      .groupBy("nation", "n", "s")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("g_cents"),
        sum(col("t_micro")).as("sum_t_micro"))
    val withinG = base
      .join(perNation.select(col("nation"), col("n_cust").as("ng"),
        col("g_cents").as("sg")), Seq("nation"))
      .withColumn("tg_micro", expr(
        """cast(round((cast(cents as double) * ng / sg) *
          |  ln(cast(cents as double) * ng / sg) * 1e6, 0) as bigint)"""
          .stripMargin))
      .groupBy("nation")
      .agg(sum(col("tg_micro")).as("sum_tg_micro"))
    val nation = perNation.join(withinG, Seq("nation"))
      .withColumn("between_micro", expr(
        """cast(round((cast(g_cents as double) / s) *
          |  ln((cast(g_cents as double) / s) * (cast(n as double) / n_cust))
          |  * 1e6, 0) as bigint)""".stripMargin))
    val totals = nation
      .agg(sum(col("sum_t_micro")).as("t_micro_all"),
        sum(col("between_micro")).as("b_micro"),
        max(col("n")).as("n_all"))
    nation.crossJoin(broadcast(totals))
      .select(col("nation"), col("n_cust"), col("g_cents").as("cents"),
        round(col("g_cents").cast("double") / col("s"), 6)
          .as("spend_share"),
        round(col("sum_tg_micro").cast("double") / col("n_cust") / 1e6, 6)
          .as("theil_within"),
        round(col("t_micro_all").cast("double") / col("n_all") / 1e6, 6)
          .as("theil_total"),
        round(col("b_micro").cast("double") / 1e6, 6).as("theil_between"))
      .orderBy("nation")
  }

  /** The transition-surprisal model q241 and q244 share as oracle
    * CTEs: each user's consecutive event `pairs` (user_id, event_type,
    * next_type) and the micro-bit surprisal of each transition `model`
    * (event_type, next_type, s_micro). */
  private val surprisalCtes: String =
    """pairs AS (
      |  SELECT user_id, event_type, next_type
      |  FROM (SELECT user_id, event_type,
      |               lead(event_type) OVER (PARTITION BY user_id
      |                 ORDER BY ts, event_id) AS next_type
      |        FROM events)
      |  WHERE next_type IS NOT NULL),
      |model AS (
      |  SELECT event_type, next_type,
      |         CAST(round(-log2(CAST(n_ij AS DOUBLE)
      |                          / CAST(n_i AS DOUBLE)) * 1e6, 0)
      |              AS BIGINT) AS s_micro
      |  FROM (SELECT event_type, next_type, count(*) AS n_ij,
      |               CAST(sum(count(*)) OVER (PARTITION BY event_type)
      |                    AS BIGINT) AS n_i
      |        FROM pairs GROUP BY 1, 2))""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q341_engagement_diversity", q341EngagementDiversity _,
      """WITH per_ut AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |terms AS (
        |  SELECT user_id, c, cents,
        |         CAST(round(-(CAST(c AS DOUBLE)
        |               / sum(c) OVER (PARTITION BY user_id))
        |             * log2(CAST(c AS DOUBLE)
        |               / sum(c) OVER (PARTITION BY user_id))
        |             * 1e6, 0) AS BIGINT) AS term_mu
        |  FROM per_ut),
        |per_user AS (
        |  SELECT user_id, CAST(sum(term_mu) AS BIGINT) AS ent_mu,
        |         CAST(sum(c) AS BIGINT) AS n_events,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM terms GROUP BY 1),
        |seg AS (
        |  SELECT ent_mu // 250000 AS segment, n_events, cents
        |  FROM per_user)
        |SELECT segment,
        |       round(CAST(segment AS DOUBLE) * 0.25, 2)
        |         AS entropy_bits_lo,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       round(CAST(sum(n_events) AS DOUBLE) / count(*), 4)
        |         AS mean_events,
        |       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 2)
        |         AS mean_spend
        |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q321_markov_backtest", q321MarkovBacktest _,
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |trans AS (
        |  SELECT event_type AS prev,
        |         lead(event_type, 1) OVER w AS nxt,
        |         lead(us, 1) OVER w >= (SELECT cut FROM cut) AS is_test
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t2 AS (SELECT * FROM trans WHERE nxt IS NOT NULL),
        |train AS (
        |  SELECT prev, nxt, CAST(count(*) AS BIGINT) AS n
        |  FROM t2 WHERE NOT is_test GROUP BY 1, 2),
        |pred AS (
        |  SELECT prev, nxt AS pred_next FROM (
        |    SELECT prev, nxt,
        |           row_number() OVER (PARTITION BY prev
        |             ORDER BY n DESC, nxt) AS rn
        |    FROM train) WHERE rn = 1),
        |baseline AS (
        |  SELECT nxt AS base_next FROM (
        |    SELECT nxt, CAST(count(*) AS BIGINT) AS n
        |    FROM t2 WHERE NOT is_test GROUP BY 1)
        |  ORDER BY n DESC, base_next LIMIT 1)
        |SELECT t.prev, p.pred_next,
        |       CAST(count(*) AS BIGINT) AS n_test,
        |       round(CAST(sum(CASE WHEN t.nxt = p.pred_next
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS accuracy,
        |       round(CAST(sum(CASE WHEN t.nxt = b.base_next
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS baseline_accuracy,
        |       sum(CASE WHEN t.nxt = p.pred_next THEN 1 ELSE 0 END)
        |         >= sum(CASE WHEN t.nxt = b.base_next THEN 1 ELSE 0 END)
        |         AS beats_baseline
        |FROM t2 t JOIN pred p USING (prev) CROSS JOIN baseline b
        |WHERE t.is_test
        |GROUP BY 1, 2
        |ORDER BY t.prev""".stripMargin),
    QueryDef("q241_surprisal_anomaly", q241SurprisalAnomaly _,
      s"""WITH $surprisalCtes,
        |scored AS (
        |  SELECT p.user_id, count(*) AS n_trans,
        |         CAST(sum(m.s_micro) AS BIGINT) AS s_sum
        |  FROM pairs p JOIN model m
        |    ON p.event_type = m.event_type AND p.next_type = m.next_type
        |  GROUP BY 1)
        |SELECT user_id, n_trans,
        |       round(CAST(s_sum AS DOUBLE) / CAST(n_trans AS DOUBLE)
        |             / 1e6, 6) AS surprisal_bits
        |FROM scored
        |ORDER BY CAST(s_sum AS DOUBLE) / CAST(n_trans AS DOUBLE) / 1e6
        |           DESC, user_id
        |LIMIT $AnomalyTopK""".stripMargin),
    // the q166 equivalence class: the oracle is the plain FULL
    // recompute — hash equality proves incremental == full
    QueryDef("q244_incremental_surprisal", q244IncrementalSurprisal _,
      s"""WITH $surprisalCtes
        |SELECT p.user_id, count(*) AS n_trans,
        |       round(CAST(CAST(sum(m.s_micro) AS BIGINT) AS DOUBLE)
        |             / CAST(count(*) AS DOUBLE) / 1e6, 6)
        |         AS surprisal_bits
        |FROM pairs p JOIN model m
        |  ON p.event_type = m.event_type AND p.next_type = m.next_type
        |GROUP BY 1
        |ORDER BY p.user_id""".stripMargin),
    QueryDef("q231_source_jsd", q231SourceJsd _,
      s"""WITH counts AS (
        |  SELECT source,
        |         ('0x' || substr(md5(w), 1, 15))::BIGINT % $JsdBuckets AS b,
        |         count(*) AS c
        |  FROM (SELECT source,
        |               unnest(list_filter(string_split(trim(text), ' '),
        |                                  x -> length(x) > 0)) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT s.source, g.b
        |  FROM (SELECT DISTINCT source FROM counts) s
        |  CROSS JOIN (SELECT unnest(generate_series(0, ${JsdBuckets - 1}))
        |                AS b) g),
        |dense AS (
        |  SELECT sp.source, sp.b, COALESCE(c.c, 0) AS c
        |  FROM spine sp LEFT JOIN counts c
        |    ON sp.source = c.source AND sp.b = c.b),
        |totals AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n
        |  FROM dense GROUP BY 1),
        |dist AS (
        |  SELECT d.source, d.b, t.n,
        |         CAST(d.c + 1 AS DOUBLE) / CAST(t.n + $JsdBuckets AS DOUBLE)
        |           AS p
        |  FROM dense d JOIN totals t ON d.source = t.source),
        |pairs AS (
        |  SELECT a.source AS source_a, b2.source AS source_b,
        |         a.n AS n_a, b2.n AS n_b,
        |         CAST(round((0.5 * a.p * log2(a.p / ((a.p + b2.p) / 2.0))
        |                     + 0.5 * b2.p * log2(b2.p / ((a.p + b2.p) / 2.0)))
        |                    * 1e6, 0) AS BIGINT) AS term_micro
        |  FROM dist a JOIN dist b2
        |    ON a.b = b2.b AND a.source < b2.source)
        |SELECT source_a, source_b,
        |       CAST(max(n_a) AS BIGINT) AS n_a,
        |       CAST(max(n_b) AS BIGINT) AS n_b,
        |       round(CAST(sum(term_micro) AS DOUBLE) / 1e6, 6) AS jsd_bits
        |FROM pairs GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin),
    QueryDef("q232_transition_entropy", q232TransitionEntropy _,
      """WITH trans AS (
        |  SELECT event_type, next_type, count(*) AS n_ij
        |  FROM (SELECT event_type,
        |               lead(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS next_type
        |        FROM events)
        |  WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |rows_t AS (
        |  SELECT event_type, next_type, n_ij,
        |         CAST(sum(n_ij) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n_i
        |  FROM trans),
        |quant AS (
        |  SELECT event_type, n_ij, n_i,
        |         CAST(round(-(CAST(n_ij AS DOUBLE) / CAST(n_i AS DOUBLE))
        |                     * log2(CAST(n_ij AS DOUBLE)
        |                            / CAST(n_i AS DOUBLE)) * 1e6, 0)
        |              AS BIGINT) AS term_micro
        |  FROM rows_t),
        |per_prev AS (
        |  SELECT event_type AS prev_type,
        |         CAST(max(n_i) AS BIGINT) AS n_trans,
        |         count(*) AS n_next_types,
        |         round(CAST(sum(term_micro) AS DOUBLE) / 1e6, 6) AS h_bits
        |  FROM quant GROUP BY 1),
        |total AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n_all FROM trans),
        |overall AS (
        |  SELECT '__ALL__' AS prev_type,
        |         CAST((SELECT n_all FROM total) AS BIGINT) AS n_trans,
        |         count(*) AS n_next_types,
        |         round(CAST(sum(
        |           CAST(round(-(CAST(n_ij AS DOUBLE)
        |                        / CAST((SELECT n_all FROM total) AS DOUBLE))
        |                       * log2(CAST(n_ij AS DOUBLE)
        |                              / CAST(n_i AS DOUBLE)) * 1e6, 0)
        |                AS BIGINT)) AS DOUBLE) / 1e6, 6) AS h_bits
        |  FROM rows_t)
        |SELECT * FROM per_prev
        |UNION ALL SELECT * FROM overall
        |ORDER BY prev_type""".stripMargin),
    QueryDef("q352_theil_decomposition", q352TheilDecomposition _,
      """WITH spend AS (
        |  SELECT o.o_custkey AS custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents,
        |         any_value(c.c_nationkey) AS nation
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(cents) AS BIGINT) AS s FROM spend),
        |per_nation AS (
        |  SELECT nation, CAST(count(*) AS BIGINT) AS n_cust,
        |         CAST(sum(cents) AS BIGINT) AS g_cents,
        |         CAST(sum(CAST(round((CAST(cents AS DOUBLE)
        |             * (SELECT n FROM tot) / (SELECT s FROM tot))
        |           * ln(CAST(cents AS DOUBLE) * (SELECT n FROM tot)
        |                / (SELECT s FROM tot)) * 1e6, 0) AS BIGINT))
        |           AS BIGINT) AS sum_t_micro
        |  FROM spend GROUP BY 1),
        |within_g AS (
        |  SELECT sp.nation,
        |         CAST(sum(CAST(round((CAST(cents AS DOUBLE) * pn.n_cust
        |             / pn.g_cents)
        |           * ln(CAST(cents AS DOUBLE) * pn.n_cust / pn.g_cents)
        |           * 1e6, 0) AS BIGINT)) AS BIGINT) AS sum_tg_micro
        |  FROM spend sp JOIN per_nation pn ON pn.nation = sp.nation
        |  GROUP BY 1),
        |nation_rows AS (
        |  SELECT pn.nation, pn.n_cust, pn.g_cents, pn.sum_t_micro,
        |         wg.sum_tg_micro,
        |         CAST(round((CAST(pn.g_cents AS DOUBLE)
        |             / (SELECT s FROM tot))
        |           * ln((CAST(pn.g_cents AS DOUBLE) / (SELECT s FROM tot))
        |                * (CAST((SELECT n FROM tot) AS DOUBLE)
        |                   / pn.n_cust)) * 1e6, 0) AS BIGINT)
        |           AS between_micro
        |  FROM per_nation pn JOIN within_g wg ON wg.nation = pn.nation),
        |totals AS (
        |  SELECT CAST(sum(sum_t_micro) AS BIGINT) AS t_micro_all,
        |         CAST(sum(between_micro) AS BIGINT) AS b_micro
        |  FROM nation_rows)
        |SELECT nation, n_cust, g_cents AS cents,
        |       round(CAST(g_cents AS DOUBLE) / (SELECT s FROM tot), 6)
        |         AS spend_share,
        |       round(CAST(sum_tg_micro AS DOUBLE) / n_cust / 1e6, 6)
        |         AS theil_within,
        |       round(CAST((SELECT t_micro_all FROM totals) AS DOUBLE)
        |             / (SELECT n FROM tot) / 1e6, 6) AS theil_total,
        |       round(CAST((SELECT b_micro FROM totals) AS DOUBLE) / 1e6, 6)
        |         AS theil_between
        |FROM nation_rows ORDER BY nation""".stripMargin))
}
