package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] probabilistic record linkage (q200/q203): Fellegi–Sunter
  * agreement-weight scoring — the published probabilistic-ER model
  * behind production entity resolvers: per comparison field, estimate
  * m = P(agree | match) and u = P(agree | non-match), score every
  * candidate pair by Σ log2(m/u) over agreeing fields plus
  * Σ log2((1−m)/(1−u)) over disagreeing ones, and inspect the score
  * separation between true matches and non-matches. q79's edit-
  * distance fuzzy join answers "are these strings close?"; this
  * answers the calibrated question "how much EVIDENCE is this
  * agreement pattern?" — and learns the weights from the data.
  *
  * Fixture: a deterministically perturbed copy of customer
  * (segment / balance-bucket / nation flipped for key-arithmetic
  * subsets — a record can carry several perturbations), candidate
  * pairs MULTI-PASS blocked: pass 1 on (nation, balance-bucket),
  * pass 2 on (nation, segment), union'd and deduped on the pair key.
  * A record pair is a candidate iff it agrees on nation AND at least
  * one of the two compared fields. Blocking is honest about recall: a
  * true match whose nation is perturbed, or with BOTH bkt and seg
  * perturbed (k divisible by 7·11), is MISSED by every pass — exactly
  * like production blocking.
  *
  * SCALE DISCIPLINE (VERDICT r09 #1). Attribute blocking has FIXED
  * key cardinality (25 nations × ~11 buckets × 5 segments), so block
  * sizes — and with them candidate-pair mass — grow QUADRATICALLY in
  * the customer dimension: the round-9 dim-growth harness measured
  * 100× pairs at 10× customers (docs/SCALE.md). Multi-pass blocking
  * shrinks the constant, never the exponent. The registered plans
  * therefore never run the full attribute-blocked candidate set:
  *
  *  1. WEIGHT LEARNING (q200, and step 1 of q203) runs the multi-pass
  *     attribute blocking over a BOUNDED ESTIMATION SAMPLE — records
  *     whose salted 60-bit key hash is ≡ 0 mod s, with
  *     s = max(1, n div [[EstTarget]]) computed from the data itself
  *     (a broadcast 1-row aggregate, no driver collect). The sample
  *     size is ~[[EstTarget]] keys at ANY dimension size, so the
  *     estimation pair mass is bounded by what fixed attribute blocks
  *     do to ~1000 records — constant as the dimension grows, the
  *     production "estimate m/u on a sample" discipline (m/u need a
  *     pair SAMPLE, not the census). Hash-based systematic sampling
  *     (never `k % s` directly) keeps the sample free of aliasing
  *     against the key-arithmetic perturbation periods.
  *  2. CANDIDATE RETRIEVAL (q203) blocks on the HIGH-CARDINALITY key:
  *     the name prefix (all but the last character) — neighborhood
  *     size stays ~constant as the dimension grows because new
  *     customers bring new names (block cardinality ∝ N, the
  *     sorted-neighborhood idea as an equi-join), so retrieval pair
  *     mass is O(N · window), never (N/blocks)². Measured linear on
  *     the dim-growth harness (9.1× pairs at 10× dims, round 9).
  *
  * The FULL attribute-blocked candidate set ([[candidatePairs]]) is
  * retained only as ground truth: LinkageSpec proves sample-learned
  * m/u ≈ census-learned m/u on sf0.01, and the dim-growth harness
  * keeps its round-9 quadratic measurement as the documented
  * counter-example. It is never registered.
  *
  * Output of both queries is a (score-bucket × label) histogram:
  * audit-sized at any scale. Each pair's score is a single fixed
  * 3-term expression over exact integer-ratio m/u — no fold across a
  * variable-length field set — so the double is bit-identical
  * cross-engine. */
object Linkage {

  private[graft] val SegMod = 7L
  private[graft] val BucketMod = 11L
  private[graft] val NationMod = 13L

  /** Target estimation-sample size: s = max(1, n div EstTarget) keys
    * survive, so the attribute-blocked estimation pair mass is bounded
    * regardless of dimension size. */
  private[graft] val EstTarget = 1000L

  /** The perturbed-pair fixture: (base, alt) record frames carrying
    * key, name, nation, segment, balance bucket. */
  private def records(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.customer(spark, dir).select(
      col("c_custkey").as("k"),
      col("c_name").as("nm"),
      col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"),
      expr("cast(floor(c_acctbal / 1000) as int)").as("bkt"))
    val alt = base.select(col("k"), col("nm"),
      when(col("k") % NationMod === 0, (col("nat") + 1) % 25)
        .otherwise(col("nat")).as("nat"),
      when(col("k") % SegMod === 0, lit("PERTURBED"))
        .otherwise(col("seg")).as("seg"),
      when(col("k") % BucketMod === 0, col("bkt") + 1)
        .otherwise(col("bkt")).as("bkt"))
    (base, alt)
  }

  /** One blocked pass: equi-join base×alt on (nation, key field),
    * emitting pair keys + agreement flags. */
  private def blockPass(base: DataFrame, alt: DataFrame, key: String)
      : DataFrame = base.alias("a")
    .join(alt.alias("b"),
      col("a.nat") === col("b.nat") && col(s"a.$key") === col(s"b.$key"))
    .select(col("a.k").as("ak"), col("b.k").as("bk"),
      (col("a.k") === col("b.k")).as("is_match"),
      (col("a.seg") === col("b.seg")).as("ag_seg"),
      (col("a.bkt") === col("b.bkt")).as("ag_bkt"))

  /** The FULL multi-pass-blocked candidate pairs with agreement flags —
    * ground truth only (LinkageSpec, dim-growth harness); measured
    * dimension-QUADRATIC in round 9 and therefore never part of a
    * registered plan. Each pass joins on a FINER compound key; a pair
    * agreeing on both fields appears in both passes, so the union
    * dedups on the pair key (rows for the same pair carry identical
    * flags — the dedup pick is deterministic). */
  private[graft] def candidatePairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val (base, alt) = records(spark, dir)
    blockPass(base, alt, "bkt").unionByName(blockPass(base, alt, "seg"))
      .dropDuplicates("ak", "bk")
  }

  /** 1-row modulus frame: s = max(1, n div target), computed from the
    * base dimension itself so the sample self-scales. */
  private def estParams(base: DataFrame, target: Long): DataFrame =
    base.agg(greatest(lit(1L), expr(s"count(1) div $target")).as("s"))

  /** Hash-systematic estimation sample: keys whose salted 60-bit hash
    * is ≡ 0 mod s (broadcast scalar join, no driver collect). */
  private def estSample(df: DataFrame, params: DataFrame): DataFrame =
    df.crossJoin(broadcast(params))
      .filter(Hashing.md5Hash60(
        concat(lit("linkest:"), col("k"))) % col("s") === 0)
      .drop("s")

  /** Estimation pairs: the multi-pass attribute blocking restricted to
    * the bounded hash sample — ~[[EstTarget]] keys per side at any
    * dimension size, so pair mass is CONSTANT under dim growth.
    * Factored out so the dim-growth harness can count it. */
  private[graft] def estimationPairs(spark: SparkSession, dir: String,
      target: Long = EstTarget): DataFrame = {
    val (base, alt) = records(spark, dir)
    val params = estParams(base, target)
    val eb = estSample(base, params)
    val ea = estSample(alt, params)
    blockPass(eb, ea, "bkt").unionByName(blockPass(eb, ea, "seg"))
      .dropDuplicates("ak", "bk")
  }

  /** m/u for both compared fields as exact integer ratios over a
    * labeled pair frame; add-one smoothing keeps every log argument
    * finite (a field that always agrees on matches would otherwise
    * give m = 1 and an infinite disagreement weight). */
  private def muOf(pairs: DataFrame): DataFrame = {
    def rate(flag: Column, label: Column): Column =
      (sum(when(label && flag, 1L).otherwise(0L)) + 1L).cast("double") /
        (sum(when(label, 1L).otherwise(0L)) + 2L)
    pairs.agg(
      rate(col("ag_seg"), col("is_match")).as("m_seg"),
      rate(col("ag_seg"), !col("is_match")).as("u_seg"),
      rate(col("ag_bkt"), col("is_match")).as("m_bkt"),
      rate(col("ag_bkt"), !col("is_match")).as("u_bkt"))
  }

  /** Spec hook: sample-learned m/u at an explicit target. */
  private[graft] def estimatedMu(spark: SparkSession, dir: String,
      target: Long): DataFrame = muOf(estimationPairs(spark, dir, target))

  /** Score a pair frame with broadcast m/u weights and fold to the
    * (is_match, floor(w)) histogram. */
  private def scoreHistogram(pairs: DataFrame, mu: DataFrame): DataFrame = {
    def term(agree: Column, m: Column, u: Column): Column =
      when(agree, log2(m / u))
        .otherwise(log2((lit(1.0) - m) / (lit(1.0) - u)))
    pairs.crossJoin(broadcast(mu))
      .select(col("is_match"),
        (term(col("ag_seg"), col("m_seg"), col("u_seg")) +
          term(col("ag_bkt"), col("m_bkt"), col("u_bkt"))).as("w"))
      .select(col("is_match"),
        floor(col("w")).cast("long").as("w_bucket"))
      .groupBy("is_match", "w_bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("is_match", "w_bucket")
  }

  /** Spec hook: q200 at an explicit estimation target (forces real
    * sampling at sf0.01, where the default modulus is 1). */
  private[graft] def q200With(spark: SparkSession, dir: String,
      target: Long): DataFrame = {
    val est = estimationPairs(spark, dir, target)
    scoreHistogram(est, muOf(est))
  }

  /** q200 — Fellegi–Sunter linkage weights learned AND audited on the
    * bounded estimation sample; see the module doc. */
  def q200LinkageWeights(spark: SparkSession, dir: String): DataFrame =
    q200With(spark, dir, EstTarget)

  /** q203 — linkage retrieval AT SCALE: sample-learned weights (step 1,
    * shared with q200) scoring name-prefix-blocked retrieval candidates
    * (step 2) — the full production decomposition; see the module doc.
    * Output: (is_match, w_bucket) histogram of the RETRIEVED pairs —
    * matches concentrate in the high buckets scored by sample-learned
    * weights, prefix-neighbor non-matches in the low ones. */
  def q203LinkageRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val (base, alt) = records(spark, dir)
    scoreHistogram(retrievedPairs(base, alt),
      muOf(estimationPairs(spark, dir, EstTarget)))
  }

  /** Name-prefix-blocked retrieval candidates (step 2 of q203) —
    * factored out so the dim-growth harness can count them. */
  private[graft] def retrievedPairs(base: DataFrame, alt: DataFrame)
      : DataFrame = {
    def keyed(df: DataFrame): DataFrame =
      df.withColumn("nb", expr("substr(nm, 1, length(nm) - 1)"))
    keyed(base).alias("a")
      .join(keyed(alt).alias("b"), col("a.nb") === col("b.nb"))
      .select(col("a.k").as("ak"), col("b.k").as("bk"),
        (col("a.k") === col("b.k")).as("is_match"),
        (col("a.seg") === col("b.seg")).as("ag_seg"),
        (col("a.bkt") === col("b.bkt")).as("ag_bkt"))
  }

  /** Dim-harness hook: q203's retrieval candidates for a dir. */
  private[graft] def retrievedPairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val (base, alt) = records(spark, dir)
    retrievedPairs(base, alt)
  }

  /** q247 journey depth (event types per user) and clone threshold
    * (max edit distance between full journeys to flag a clone). */
  private[graft] val CloneJourneyDepth = 8
  private[graft] val ClonePrefixDepth = 3
  private[graft] val CloneMaxEdit = 2

  /** q247 — BEHAVIORAL CLONE-RATE audit (fraud-ring / scripted-client
    * screen): how often do two DIFFERENT users replay nearly the same
    * event journey? Each user folds to one [[CloneJourneyDepth]]-step
    * journey string (the q191 kernel); candidates block on the
    * [[ClonePrefixDepth]]-step prefix, and within each block the audit
    * probes HASH-ADJACENT pairs ONLY — members sorted by a salted
    * 60-bit hash, each compared to its successor — so candidate mass
    * is n−1 per block, LINEAR in users (the q200 lesson: behavioral
    * keys have FIXED cardinality, so all-pairs-within-block would be
    * quadratic in users by construction; the hash chain is the
    * estimation-sample discipline applied to pair generation —
    * detection of a k-clone cluster is probabilistic per probe but the
    * RATE estimate is what the monitor tracks). A probe is a clone
    * when levenshtein(full_a, full_b) ≤ [[CloneMaxEdit]] — integer
    * edit distance, identical in both engines.
    *
    * Scale shape: one journey fold (q191's bounded collect per user),
    * one hash-rank window per prefix block, one self-join on adjacent
    * ranks, a |blocks|-row report. */
  def q247CloneRate(spark: SparkSession, dir: String): DataFrame = {
    val journeys = Tables.events(spark, dir)
      .select(col("user_id"), struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).as("rec"))
      .groupBy("user_id")
      .agg(collect_list(col("rec")).as("recs"))
      .select(col("user_id"), array_join(
        expr(s"transform(slice(array_sort(recs), 1, $CloneJourneyDepth), " +
          "r -> r.event_type)"), ">").as("journey"),
        array_join(
          expr(s"transform(slice(array_sort(recs), 1, $ClonePrefixDepth), " +
            "r -> r.event_type)"), ">").as("prefix"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("prefix").orderBy("hk", "user_id")
    val ranked = journeys
      .withColumn("hk", Hashing.md5Hash60(
        concat(lit("clone:"), col("user_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
    val probes = ranked.select(col("prefix"), col("rk"),
        col("user_id").as("ua"), col("journey").as("ja"))
      .join(ranked.select(col("prefix"), (col("rk") - 1).as("rk"),
        col("user_id").as("ub"), col("journey").as("jb")),
        Seq("prefix", "rk"))
      .withColumn("dist", levenshtein(col("ja"), col("jb")))
    probes.groupBy("prefix")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("dist") <= CloneMaxEdit, 1L).otherwise(0L))
          .as("n_clones"),
        min(col("dist")).as("min_dist"))
      .join(journeys.groupBy("prefix").agg(count(lit(1)).as("n_users")),
        Seq("prefix"))
      .select(col("prefix"), col("n_users"), col("n_probes"),
        col("n_clones"), col("min_dist"),
        round(col("n_clones").cast("double") / col("n_probes"), 6)
          .as("clone_rate"))
      .orderBy("prefix")
  }

  /** Shared oracle CTE prefix: fixture, modulus, hash sample, blocked
    * estimation pairs, and sample-learned m/u. The hash sample is the
    * q152 cross-engine identity: Spark `conv(substr(md5(x),1,15),16,10)`
    * == DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`. */
  private def estPrefixSql: String =
    s"""WITH base AS (
      |  SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat,
      |         c_mktsegment AS seg,
      |         CAST(floor(c_acctbal / 1000) AS INTEGER) AS bkt
      |  FROM customer),
      |alt AS (
      |  SELECT k, nm,
      |         CASE WHEN k % $NationMod = 0 THEN (nat + 1) % 25
      |              ELSE nat END AS nat,
      |         CASE WHEN k % $SegMod = 0 THEN 'PERTURBED'
      |              ELSE seg END AS seg,
      |         CASE WHEN k % $BucketMod = 0 THEN bkt + 1
      |              ELSE bkt END AS bkt
      |  FROM base),
      |params AS (SELECT greatest(1, count(*) // $EstTarget) AS s FROM base),
      |eb AS (SELECT * FROM base
      |       WHERE ('0x' || substr(md5('linkest:' || CAST(k AS VARCHAR)),
      |                             1, 15))::BIGINT
      |             % (SELECT s FROM params) = 0),
      |ea AS (SELECT * FROM alt
      |       WHERE ('0x' || substr(md5('linkest:' || CAST(k AS VARCHAR)),
      |                             1, 15))::BIGINT
      |             % (SELECT s FROM params) = 0),
      |est AS (
      |  SELECT a.k = b.k AS is_match,
      |         a.seg = b.seg AS ag_seg,
      |         a.bkt = b.bkt AS ag_bkt
      |  FROM eb a JOIN ea b
      |    ON a.nat = b.nat AND (a.bkt = b.bkt OR a.seg = b.seg)),
      |mu AS (
      |  SELECT
      |    CAST(count(*) FILTER (WHERE is_match AND ag_seg) + 1 AS DOUBLE)
      |      / (count(*) FILTER (WHERE is_match) + 2) AS m_seg,
      |    CAST(count(*) FILTER (WHERE NOT is_match AND ag_seg) + 1
      |      AS DOUBLE)
      |      / (count(*) FILTER (WHERE NOT is_match) + 2) AS u_seg,
      |    CAST(count(*) FILTER (WHERE is_match AND ag_bkt) + 1 AS DOUBLE)
      |      / (count(*) FILTER (WHERE is_match) + 2) AS m_bkt,
      |    CAST(count(*) FILTER (WHERE NOT is_match AND ag_bkt) + 1
      |      AS DOUBLE)
      |      / (count(*) FILTER (WHERE NOT is_match) + 2) AS u_bkt
      |  FROM est)""".stripMargin

  private def histogramSql(pairsCte: String): String =
    s"""scored AS (
      |  SELECT is_match,
      |         (CASE WHEN ag_seg THEN log2(m_seg / u_seg)
      |               ELSE log2((1.0 - m_seg) / (1.0 - u_seg)) END +
      |          CASE WHEN ag_bkt THEN log2(m_bkt / u_bkt)
      |               ELSE log2((1.0 - m_bkt) / (1.0 - u_bkt)) END)
      |           AS w
      |  FROM $pairsCte CROSS JOIN mu)
      |SELECT is_match, CAST(floor(w) AS BIGINT) AS w_bucket,
      |       count(*) AS n_pairs
      |FROM scored GROUP BY 1, 2
      |ORDER BY is_match, w_bucket""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q247_clone_rate", q247CloneRate _,
      s"""WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         event_id, event_type
        |  FROM events),
        |journeys AS (
        |  SELECT user_id,
        |         array_to_string(list(event_type ORDER BY us, event_id)
        |                         [1:$CloneJourneyDepth], '>') AS journey,
        |         array_to_string(list(event_type ORDER BY us, event_id)
        |                         [1:$ClonePrefixDepth], '>') AS prefix
        |  FROM ev GROUP BY 1),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY prefix
        |           ORDER BY ('0x' || substr(md5('clone:'
        |             || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT,
        |             user_id) AS rk
        |  FROM journeys),
        |probes AS (
        |  SELECT a.prefix,
        |         levenshtein(a.journey, b.journey) AS dist
        |  FROM ranked a JOIN ranked b
        |    ON a.prefix = b.prefix AND b.rk = a.rk - 1),
        |agg AS (
        |  SELECT prefix, count(*) AS n_probes,
        |         CAST(count(*) FILTER (WHERE dist <= $CloneMaxEdit)
        |              AS BIGINT) AS n_clones,
        |         CAST(min(dist) AS INTEGER) AS min_dist
        |  FROM probes GROUP BY 1),
        |sizes AS (SELECT prefix, count(*) AS n_users
        |          FROM journeys GROUP BY 1)
        |SELECT a.prefix, s.n_users, a.n_probes, a.n_clones, a.min_dist,
        |       round(CAST(a.n_clones AS DOUBLE) / a.n_probes, 6)
        |         AS clone_rate
        |FROM agg a JOIN sizes s ON a.prefix = s.prefix
        |ORDER BY a.prefix""".stripMargin),
    QueryDef("q200_linkage_weights", q200LinkageWeights _,
      s"""$estPrefixSql,
        |${histogramSql("est")}""".stripMargin),
    QueryDef("q203_linkage_retrieval", q203LinkageRetrieval _,
      s"""$estPrefixSql,
        |cand AS (
        |  SELECT a.k = b.k AS is_match,
        |         a.seg = b.seg AS ag_seg,
        |         a.bkt = b.bkt AS ag_bkt
        |  FROM base a JOIN alt b
        |    ON substr(a.nm, 1, length(a.nm) - 1)
        |       = substr(b.nm, 1, length(b.nm) - 1)),
        |${histogramSql("cand")}""".stripMargin))
}
