package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-11 breadth: binary-signature Hamming retrieval (q348),
  * cohort retention (q349), retrieval exposure audit (q350), temporal
  * holdout contamination (q351), Theil inequality decomposition
  * (q352), Benford first-digit audit (q353), random-projection
  * distortion audit (q354), and session path mining (q355).
  *
  * Disciplines as established: exact BIGINT money/term arithmetic with
  * per-row micro-quantization before any cross-row double fold, single
  * correctly-rounded divisions mirrored verbatim in the oracle, total
  * output orders, and candidate generation only ever by content-key
  * equi-join — no pairwise scans, no global windows (ordinals via
  * [[DistributedRank]]). */
object Breadth5 {

  /** q348 top-k depth. */
  private[graft] val HammK = 10

  /** q348 — BINARY-SIGNATURE HAMMING RETRIEVAL: the 96-bit sign
    * signature q35 already computes (12 bands × 8 bits, engine-portable
    * md5 planes) reused as a COMPRESSED retrieval index — the classic
    * "binary embedding" serving trick (32 B/vector instead of 256 B,
    * popcount instead of float dots). Candidates come from the q35
    * band equi-join (share ≥ 1 exact 8-bit band, hot-capped both
    * sides); ranking is FULL 96-bit Hamming distance (Σ per-band
    * popcount of XOR), top-[[HammK]] per query with (hamming, cid)
    * tie-break. Everything is integer arithmetic, so the DuckDB oracle
    * verifies the exact lists end to end; recall vs the float-cosine
    * ground truth is spec-measured (Round11eSpec).
    *
    * Scale shape: one cached signature table (12 rows/vector), a
    * bucket equi-join on the band content key, popcount ranking on
    * the candidate profile — the q224/q35 candidate discipline; no
    * Q×N scan anywhere. */
  def q348HammingRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val raw = DedupEmbedding.embeddingBands(spark, dir)
    val nVecs = AnnIndex.embCount(spark, dir)
    val small = raw.groupBy("k", "v")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= DedupEmbedding.embHotBucketCap(nVecs))
      .select("k", "v")
    val bands = raw.join(broadcast(small), Seq("k", "v"))
    val cand = Similarity.onlyQueries(spark, dir, bands)
      .select(col("vec_id").as("qid"), col("k"), col("v"))
      .join(bands.select(col("vec_id").as("cid"), col("k"), col("v")),
        Seq("k", "v"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .distinct()
    // read twice: the query side and the candidate side
    val sig = raw.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(k, v))), s -> s.v)")
        .as("sig"))
      .localCheckpoint()
    val w = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    cand
      .join(sig.select(col("vec_id").as("qid"), col("sig").as("qs")),
        Seq("qid"))
      .join(sig.select(col("vec_id").as("cid"), col("sig").as("cs")),
        Seq("cid"))
      .withColumn("hamming", expr(
        "cast(aggregate(zip_with(qs, cs, (a, b) -> bit_count(a ^ b)), " +
          "0, (acc, h) -> acc + h) as int)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HammK)
      .select(col("qid"), col("rank"), col("cid"), col("hamming"))
      .orderBy("qid", "rank")
  }

  /** q349 — COHORT RETENTION MATRIX: users grouped by first-activity
    * week (cohort), each cohort's share of users still active k weeks
    * later — the canonical growth/retention triangle every product
    * warehouse derives from its event stream (q330 accounts weekly
    * flows; this pivots them to cohort age, which is what retention
    * curves and LTV models actually consume). Weeks are exact integer
    * day-offsets div 7 from the corpus min date.
    *
    * Scale shape: one (user, week) distinct fold, one user-grain min
    * for the cohort, one (cohort, offset) fold joined to the
    * cohort-size profile — all content-key aggregates, output ≤
    * weeks² rows. */
  def q349CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val userWeeks = ev.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("datediff(d, d0) div 7").as("week"))
      .distinct()
    val cohorts = userWeeks.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    userWeeks.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q350 — RETRIEVAL EXPOSURE AUDIT over the exact top-k lists:
    * catalog coverage (what fraction of the corpus is ever retrieved)
    * and the exposure Gini (how unequally retrieval slots concentrate
    * on few items) of q36's cached ground-truth lists — the
    * feedback-loop health check run before training on
    * retrieval-sampled data (a coverage-poor, high-Gini retriever
    * starves the corpus tail). Gini uses the q211 sorted-rank
    * identity with never-retrieved items as explicit zeros: ranks of
    * the exposed profile come from [[DistributedRank]] (no global
    * window) and shift by the zero count; zero-exposure items
    * contribute nothing to Σr·x, so only the exposed profile is ever
    * materialized.
    *
    * Scale shape: the top-k table is |queries|·k rows; the exposure
    * profile at most that; one distributed ordinal over it. */
  def q350RetrievalExposure(spark: SparkSession, dir: String): DataFrame = {
    val nVecs = AnnIndex.embCount(spark, dir)
    val expo = Similarity.q36AnnBruteTopK(spark, dir)
      .groupBy("cid").agg(count(lit(1)).as("x"))
    val ranked = DistributedRank.withGlobalRank(expo, "r",
      col("x").asc, col("cid").asc)
    ranked
      .agg(count(lit(1)).as("n_exposed"), sum(col("x")).as("sx"),
        sum(col("r") * col("x")).as("srx"))
      .select(lit(nVecs).as("n_corpus"), col("n_exposed"),
        // an empty corpus has no coverage: NULL, as the oracle's 0 / 0
        round(when(lit(nVecs) > 0, col("n_exposed").cast("double") / nVecs), 6)
          .as("coverage"),
        col("sx").as("total_slots"),
        // Σ rank·x over ALL items = srx + zero_count·sx (every exposed
        // rank shifts past the zeros); Gini = (2Σrx − (n+1)Σx)/(nΣx)
        round((lit(2L) * (col("srx") + (lit(nVecs) - col("n_exposed")) *
            col("sx")) - lit(nVecs + 1L) * col("sx")).cast("double") /
          (lit(nVecs).cast("double") * col("sx").cast("double")), 6)
          .as("exposure_gini"))
  }

  /** q351 — TEMPORAL HOLDOUT CONTAMINATION AUDIT: split the stream at
    * its midpoint timestamp (the q252 tuning-snapshot cut) and
    * measure, per event type, how much of the "future" test half is
    * attributable to users already seen in training — the
    * leakage-awareness number behind any time-based eval split
    * (q117 moves near-dup clusters atomically; this quantifies the
    * entity-overlap axis a temporal split CANNOT remove, so models
    * evaluated on it are measured on warm users). Exact integer
    * counts, single divisions.
    *
    * Scale shape: one distinct-user fold on the train half, one
    * hash-join of the test half against it, enum-grain output. */
  def q351TemporalHoldout(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid))
    val trainUsers = tagged.filter(col("us") <= col("mid"))
      .select(col("user_id")).distinct()
      .withColumn("seen", lit(1))
    tagged.filter(col("us") > col("mid"))
      .join(trainUsers, Seq("user_id"), "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test_events"),
        sum(when(col("seen") === 1, 1L).otherwise(0L))
          .as("n_warm_events"),
        countDistinct(col("user_id")).as("n_test_users"),
        countDistinct(when(col("seen") === 1, col("user_id")))
          .as("n_warm_users"))
      .select(col("event_type"), col("n_test_events"),
        col("n_warm_events"), col("n_test_users"), col("n_warm_users"),
        round(col("n_warm_events").cast("double") / col("n_test_events"),
          6).as("warm_event_share"),
        round(col("n_warm_users").cast("double") / col("n_test_users"), 6)
          .as("warm_user_share"))
      .orderBy("event_type")
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

  /** q353 pinned Benford expectations, ppm: p_d = log10(1 + 1/d)
    * (libm log10 of constants — pinned Scala literals both engines
    * read, the Benford6/cos6 discipline). */
  private[graft] val BenfordPpm: Seq[Long] = (1 to 9).map { d =>
    math.rint(math.log10(1.0 + 1.0 / d) * 1e6).toLong
  }

  /** q353 — BENFORD FIRST-DIGIT AUDIT of order totals: observed
    * first-significant-digit shares of the exact cent amounts vs the
    * Benford expectation, with per-digit χ² contributions — the
    * classic forensic/data-quality scan for fabricated or truncated
    * monetary columns (a synthetic generator that draws uniform
    * prices FAILS it loudly, which is itself the honest result on
    * this corpus — the audit's value is the number, not a pass).
    *
    * Exactness: digits from the decimal string of exact cents; shares
    * and χ² terms are single divisions / products of exact integers
    * and pinned ppm literals, micro-quantized once. Zero-filled digit
    * spine (1–9) so the output shape is fixed.
    *
    * Scale shape: one fact fold to the 9-row digit profile. */
  def q353BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)")
        .as("cents"))
      .filter(col("cents") > 0L)
      .select(expr("cast(substring(cast(cents as string), 1, 1) as int)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_d"))
    val spine = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        typedLit(BenfordPpm).as("ppm_all"))
      .withColumn("expected_ppm", expr("element_at(ppm_all, digit)"))
      .drop("ppm_all")
    val tot = digits.agg(sum(col("n_d")).as("n"))
    spine.join(digits, Seq("digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e_d",
        col("n").cast("double") * col("expected_ppm") / 1e6)
      .select(col("digit"), col("n_d"),
        expr("cast(round(n_d * 1e6 / n, 0) as bigint)")
          .as("observed_ppm"),
        col("expected_ppm"),
        expr("cast(round((n_d - e_d) * (n_d - e_d) / e_d * 1e6, 0) " +
          "as bigint)").as("chi2_micro"))
      .orderBy("digit")
  }

  /** q354 random-projection target dimension. */
  private[graft] val JlDim = 16

  /** q354 — RANDOM-PROJECTION DISTORTION AUDIT (Johnson–Lindenstrauss
    * health check): project the quantized embeddings onto the first
    * [[JlDim]] q35 hyperplanes (md5-derived integer planes — exact
    * BIGINT coordinates) and measure, over a deterministic
    * strided-pair sample, how tightly the projected squared distances
    * track the original ones — the spread (max/min of the per-pair
    * ratio) is the distortion number that says whether a 16-d sketch
    * is safe for coarse filtering of this corpus. Pairs are
    * (q, q + j), j = 1..5 by key arithmetic — an equi-join, never a
    * pair scan.
    *
    * Exactness: both distances are exact BIGINT sums of squared
    * integer differences; each pair's ratio is ONE double division
    * micro-quantized before the min/max/mean folds. */
  def q354JlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val dim = Similarity.embeddingDim(spark, dir)
    val planes = DedupEmbedding.portablePlanes(dim).take(JlDim)
    val prepped = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0D) AS DOUBLE))")
        .as("xq"))
      .withColumn("planes", typedLit(planes))
      .withColumn("y", expr(
        "transform(planes, p -> cast(graft_dot(p, xq) as bigint))"))
      .withColumn("xqi", expr("transform(xq, v -> cast(v as bigint))"))
      .select(col("vec_id"), col("xqi"), col("y"))
    val qs = Similarity.onlyQueries(spark, dir, prepped)
      .select(col("vec_id").as("qid"), col("xqi").as("xa"),
        col("y").as("ya"))
      .select(col("qid"), col("xa"), col("ya"),
        explode(expr("transform(sequence(1, 5), j -> qid + j)"))
          .as("cid"))
    val pairs = qs.join(prepped.select(col("vec_id").as("cid"),
      col("xqi").as("xb"), col("y").as("yb")), Seq("cid"))
    def sq(a: String, b: String): org.apache.spark.sql.Column = expr(
      s"aggregate(zip_with($a, $b, (u, v) -> (u - v) * (u - v)), " +
        "cast(0 as bigint), (acc, t) -> acc + t)")
    pairs
      .withColumn("d2", sq("xa", "xb"))
      .withColumn("p2", sq("ya", "yb"))
      .filter(col("d2") > 0L)
      .withColumn("ratio_micro", expr(
        "cast(round(cast(p2 as double) / cast(d2 as double), 0) as bigint)"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(round(avg(ratio_micro), 0) as bigint)")
          .as("mean_ratio_micro"),
        min(col("ratio_micro")).as("min_ratio_micro"),
        max(col("ratio_micro")).as("max_ratio_micro"))
      .select(col("n_pairs"), col("mean_ratio_micro"),
        col("min_ratio_micro"), col("max_ratio_micro"),
        round(col("max_ratio_micro").cast("double") /
          col("min_ratio_micro"), 6).as("spread"))
  }

  /** q355 session gap (µs): 30 minutes, the q81 convention. */
  private[graft] val PathGapUs = 1800000000L

  /** q355 — SESSION PATH MINING: the most common session-opening
    * journeys — each 30-min-gap session reduced to its first three
    * event types in order, counted, top 20 — the ordered-sequence
    * companion to q214's unordered baskets and q232's one-step
    * transition matrix (neither can say "view→cart→purchase outranks
    * view→view→view as an opener").
    *
    * Scale shape: per-user lag + running-sum windows (user-partitioned,
    * the q81 sessionizer), one per-session fold, one path fold,
    * TakeOrdered top-20. Ties pinned by (count desc, path asc). */
  def q355SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > PathGapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sess_id")
      .agg(expr(
        """concat_ws('>', transform(
          |  slice(array_sort(collect_list(struct(us, event_id,
          |                                       event_type))), 1, 3),
          |  s -> s.event_type))""".stripMargin).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  import DedupEmbedding.{EmbBandBits, EmbNPlanes, EmbCapFloor, EmbCapDiv}
  import Similarity.{QselCte, onlyQueries}

  /** Shared oracle CTE text: q35's engine-portable banding (planes,
    * sign bits, 8-bit MSB-first packing, hot cap) — verbatim the
    * q35 derivation so q348 verifies the identical signatures. */
  private def bandCtes: String =
    s"""ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |xq AS (SELECT vec_id, i - 1 AS d,
      |              CAST(floor(x * 1000.0) AS BIGINT) AS q
      |       FROM ex),
      |planes AS (
      |  SELECT p, d,
      |         ('0x' || substr(md5(CAST(p AS VARCHAR) || '_'
      |                             || CAST(d AS VARCHAR)), 1, 15))::BIGINT
      |           % 2001 - 1000 AS c
      |  FROM generate_series(0, ${EmbNPlanes - 1}) tp(p),
      |       (SELECT DISTINCT i - 1 AS d FROM ex) td),
      |bits AS (
      |  SELECT vec_id, p, CASE WHEN sum(c * q) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM xq JOIN planes USING (d)
      |  GROUP BY vec_id, p),
      |allbands AS (
      |  SELECT vec_id, p // $EmbBandBits AS k,
      |         CAST(sum(bit << (${EmbBandBits - 1} - (p % $EmbBandBits)))
      |              AS BIGINT) AS v
      |  FROM bits GROUP BY 1, 2),
      |bsz AS (SELECT k, v, count(*) AS cnt FROM allbands GROUP BY 1, 2),
      |okb AS (
      |  SELECT a.vec_id, a.k, a.v FROM allbands a
      |  JOIN bsz ON bsz.k = a.k AND bsz.v = a.v
      |  WHERE bsz.cnt <= greatest($EmbCapFloor,
      |    ((SELECT count(*) FROM embeddings) + ${EmbCapDiv - 1})
      |      // $EmbCapDiv))""".stripMargin

  /** q36's exact brute top-10 lists as oracle CTE text (verbatim the
    * q36 oracle derivation) for q350. */
  private def bruteTopCtes: String =
    s"""$QselCte,
      |bex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |bnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
      |           FROM bex GROUP BY 1),
      |bdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.x * b.x) AS dot
      |  FROM bex a JOIN bex b ON a.i = b.i
      |                       AND a.vec_id IN (SELECT vec_id FROM qsel)
      |                       AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |bscored AS (
      |  SELECT qid, cid,
      |         round(dot / (n1.nrm * n2.nrm), 6) AS cosine
      |  FROM bdots
      |  JOIN bnorms n1 ON n1.vec_id = qid
      |  JOIN bnorms n2 ON n2.vec_id = cid),
      |branked AS (
      |  SELECT qid, cid,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY cosine DESC, cid ASC) AS rank
      |  FROM bscored),
      |btop AS (SELECT qid, cid FROM branked WHERE rank <= 10)"""
      .stripMargin

  val defs: Seq[QueryDef] = Seq(
    // NOTE: bandCtes is already stripped — concatenate, never
    // stripMargin over it again (a second pass eats the `||` concat
    // lines inside it; the q224 mmrSql lesson)
    QueryDef("q348_hamming_retrieval", q348HammingRetrieval _,
      (s"WITH $QselCte,\n$bandCtes,\n" +
      s"""cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        |  FROM okb q JOIN okb c ON q.k = c.k AND q.v = c.v
        |  WHERE q.vec_id IN (SELECT vec_id FROM qsel)
        |    AND c.vec_id <> q.vec_id),
        |ham AS (
        |  SELECT qid, cid,
        |         CAST(sum(bit_count(xor(a.v, b.v))) AS INT) AS hamming
        |  FROM cand
        |  JOIN allbands a ON a.vec_id = qid
        |  JOIN allbands b ON b.vec_id = cid AND b.k = a.k
        |  GROUP BY 1, 2)
        |SELECT qid, CAST(rn AS INT) AS rank, cid, hamming FROM (
        |  SELECT qid, cid, hamming,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY hamming, cid) AS rn
        |  FROM ham)
        |WHERE rn <= $HammK ORDER BY qid, rn""".stripMargin)),
    QueryDef("q349_cohort_retention", q349CohortRetention _,
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |uw AS (SELECT DISTINCT user_id,
        |              date_diff('day', (SELECT d0 FROM d0), d) // 7 AS week
        |       FROM ev),
        |coh AS (SELECT user_id, min(week) AS cohort_week
        |        FROM uw GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS cohort_size
        |          FROM coh GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(u.week - c.cohort_week AS BIGINT) AS week_offset,
        |       CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |       round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6)
        |         AS retention
        |FROM uw u JOIN coh c ON u.user_id = c.user_id
        |JOIN sizes s ON s.cohort_week = c.cohort_week
        |GROUP BY 1, 2, s.cohort_size
        |ORDER BY 1, 2""".stripMargin),
    QueryDef("q350_retrieval_exposure", q350RetrievalExposure _,
      s"""WITH $bruteTopCtes,
        |expo AS (SELECT cid, CAST(count(*) AS BIGINT) AS x
        |         FROM btop GROUP BY 1),
        |rk AS (SELECT cid, x,
        |              row_number() OVER (ORDER BY x, cid) AS r
        |       FROM expo),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_exposed,
        |               CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(r * x) AS BIGINT) AS srx
        |        FROM rk),
        |nn AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(nn.n AS BIGINT) AS n_corpus, a.n_exposed,
        |       round(CAST(a.n_exposed AS DOUBLE) / nn.n, 6) AS coverage,
        |       a.sx AS total_slots,
        |       round(CAST(2 * (a.srx + (nn.n - a.n_exposed) * a.sx)
        |                  - (nn.n + 1) * a.sx AS DOUBLE)
        |             / (CAST(nn.n AS DOUBLE) * CAST(a.sx AS DOUBLE)), 6)
        |         AS exposure_gini
        |FROM agg a, nn""".stripMargin),
    QueryDef("q351_temporal_holdout", q351TemporalHoldout _,
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |train_users AS (
        |  SELECT DISTINCT user_id FROM ev
        |  WHERE us <= (SELECT mid FROM mid)),
        |test AS (
        |  SELECT e.user_id, e.event_type,
        |         CASE WHEN t.user_id IS NULL THEN 0 ELSE 1 END AS seen
        |  FROM ev e LEFT JOIN train_users t ON e.user_id = t.user_id
        |  WHERE e.us > (SELECT mid FROM mid))
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_test_events,
        |       CAST(sum(seen) AS BIGINT) AS n_warm_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_test_users,
        |       CAST(count(DISTINCT CASE WHEN seen = 1 THEN user_id END)
        |            AS BIGINT) AS n_warm_users,
        |       round(CAST(sum(seen) AS DOUBLE) / count(*), 6)
        |         AS warm_event_share,
        |       round(CAST(count(DISTINCT CASE WHEN seen = 1
        |                                      THEN user_id END) AS DOUBLE)
        |             / count(DISTINCT user_id), 6) AS warm_user_share
        |FROM test GROUP BY 1 ORDER BY 1""".stripMargin),
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
        |FROM nation_rows ORDER BY nation""".stripMargin),
    QueryDef("q353_benford_audit", q353BenfordAudit _,
      {
      val ppm = BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
      s"""WITH expected(digit, expected_ppm) AS (VALUES $ppm),
        |cents AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0),
        |obs AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n_d
        |  FROM cents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM obs)
        |SELECT e.digit, coalesce(o.n_d, 0) AS n_d,
        |       CAST(round(coalesce(o.n_d, 0) * 1e6
        |                  / (SELECT n FROM tot), 0) AS BIGINT)
        |         AS observed_ppm,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(round((coalesce(o.n_d, 0)
        |           - (SELECT n FROM tot) * e.expected_ppm / 1e6)
        |         * (coalesce(o.n_d, 0)
        |           - (SELECT n FROM tot) * e.expected_ppm / 1e6)
        |         / ((SELECT n FROM tot) * e.expected_ppm / 1e6) * 1e6, 0)
        |         AS BIGINT) AS chi2_micro
        |FROM expected e LEFT JOIN obs o ON o.digit = e.digit
        |ORDER BY e.digit""".stripMargin
    }),
    QueryDef("q354_jl_distortion", q354JlDistortion _,
      {
      s"""WITH $QselCte,
        |ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |xq AS (SELECT vec_id, i - 1 AS d,
        |              CAST(floor(x * 1000.0) AS BIGINT) AS q
        |       FROM ex),
        |planes AS (
        |  SELECT p, d,
        |         ('0x' || substr(md5(CAST(p AS VARCHAR) || '_'
        |                             || CAST(d AS VARCHAR)), 1, 15))::BIGINT
        |           % 2001 - 1000 AS c
        |  FROM generate_series(0, ${JlDim - 1}) tp(p),
        |       (SELECT DISTINCT i - 1 AS d FROM ex) td),
        |proj AS (
        |  SELECT vec_id, p, CAST(sum(c * q) AS BIGINT) AS y
        |  FROM xq JOIN planes USING (d) GROUP BY 1, 2),
        |prs AS (
        |  SELECT a.vec_id AS qid, a.vec_id + j AS cid
        |  FROM (SELECT DISTINCT vec_id FROM xq
        |        WHERE vec_id IN (SELECT vec_id FROM qsel)) a,
        |       generate_series(1, 5) tj(j)),
        |pairs AS (
        |  SELECT p.qid, p.cid FROM prs p
        |  JOIN (SELECT DISTINCT vec_id FROM xq) b ON b.vec_id = p.cid),
        |d2 AS (
        |  SELECT pr.qid, pr.cid,
        |         CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
        |  FROM pairs pr
        |  JOIN xq a ON a.vec_id = pr.qid
        |  JOIN xq b ON b.vec_id = pr.cid AND b.d = a.d
        |  GROUP BY 1, 2),
        |p2 AS (
        |  SELECT pr.qid, pr.cid,
        |         CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS p2
        |  FROM pairs pr
        |  JOIN proj a ON a.vec_id = pr.qid
        |  JOIN proj b ON b.vec_id = pr.cid AND b.p = a.p
        |  GROUP BY 1, 2),
        |ratios AS (
        |  SELECT CAST(round(CAST(p2.p2 AS DOUBLE)
        |                    / CAST(d2.d2 AS DOUBLE), 0) AS BIGINT)
        |           AS ratio_micro
        |  FROM d2 JOIN p2 ON p2.qid = d2.qid AND p2.cid = d2.cid
        |  WHERE d2.d2 > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(round(avg(ratio_micro), 0) AS BIGINT)
        |         AS mean_ratio_micro,
        |       CAST(min(ratio_micro) AS BIGINT) AS min_ratio_micro,
        |       CAST(max(ratio_micro) AS BIGINT) AS max_ratio_micro,
        |       round(CAST(max(ratio_micro) AS DOUBLE) / min(ratio_micro),
        |             6) AS spread
        |FROM ratios""".stripMargin
    }),
    QueryDef("q355_session_paths", q355SessionPaths _,
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |         CASE WHEN us - lag(us) OVER (PARTITION BY user_id
        |                ORDER BY us, event_id) > $PathGapUs
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, event_id, event_type, us,
        |         sum(new_sess) OVER (PARTITION BY user_id
        |           ORDER BY us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, sess_id,
        |         array_to_string(
        |           (list(event_type ORDER BY us, event_id))[1:3], '>')
        |           AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin))
}
