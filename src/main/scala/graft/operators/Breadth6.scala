package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] round-11 breadth, second batch: broadcast-size advisor
  * (q356), corpus novelty curve (q357), nation trade-flow matrix
  * (q358), retention-weighted LTV curve (q359), column-encoding
  * advisor (q360), pseudonymization audit (q361), and a shard
  * rebalancing audit (q362).
  *
  * Same disciplines as [[Breadth5]]: exact integer arithmetic with
  * per-term micro-quantization before cross-row folds, single
  * mirrored divisions, total orders, profile-bounded windows only. */
object Breadth6 {

  /** q356 pinned broadcast budget (10 MiB — the conventional
    * autoBroadcastJoinThreshold ballpark). */
  private[graft] val BroadcastBudget = 10L * 1024 * 1024

  /** q356 — BROADCAST-SIZE ADVISOR: for every dimension table, the
    * exact serialized-payload estimate (fixed-width columns at their
    * storage width + actual string lengths) against a pinned
    * [[BroadcastBudget]] — the decision input behind every
    * `broadcast()` hint this engine places (q286 decides partition
    * keys, q309 Bloom sizes, q328 salts; this completes the advisor
    * family with the build-side question). A dimension that outgrows
    * the budget must flip its joins to shuffle side — finding that
    * out from an executor OOM is the failure mode this audit
    * pre-empts.
    *
    * Exactness: byte estimate is an exact BIGINT fold (8 B per
    * BIGINT/DOUBLE, 4 B per INT, string lengths as stored); one
    * division for bytes/row. */
  def q356BroadcastAdvisor(spark: SparkSession, dir: String): DataFrame = {
    def est(name: String, df: DataFrame, fixed: Int,
        strCols: Seq[String]): DataFrame = {
      val strLen: Column = strCols
        .map(c => length(col(c)).cast("long"))
        .reduceOption(_ + _).getOrElse(lit(0L))
      df.agg(count(lit(1)).as("n_rows"),
          sum(strLen + fixed.toLong).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("est_bytes"),
          round(col("est_bytes").cast("double") / col("n_rows"), 6)
            .as("bytes_per_row"),
          (col("est_bytes") <= BroadcastBudget).as("broadcastable"))
    }
    Seq(
      est("customer", Tables.customer(spark, dir), 20,
        Seq("c_name", "c_mktsegment")),
      est("nation", Tables.nation(spark, dir), 8, Seq("n_name")),
      est("part", Tables.part(spark, dir), 20,
        Seq("p_name", "p_brand", "p_type")),
      est("region", Tables.region(spark, dir), 4, Seq("r_name")),
      est("supplier", Tables.supplier(spark, dir), 20, Seq("s_name")))
      .reduce(_ unionByName _)
      .orderBy("table_name")
  }

  /** q357 — CORPUS NOVELTY CURVE: split the corpus into 10 equal-width
    * doc-id ranges (the ingest-order proxy q343 uses) and measure how
    * many NEVER-SEEN-BEFORE word-3-gram shingles each tranche
    * contributes — the diminishing-returns curve behind "is crawling
    * more of this source still buying new content?", the
    * corpus-level companion to q289's OOV emergence (two halves) and
    * q291's Heaps exponent (a fitted summary; this is the raw curve).
    * Reuses the cached q32/q34 shingle table.
    *
    * Scale shape: one shingle-grain min fold (content key), a 10-row
    * profile, cumulative via a grouping-less collect fold — no
    * window. */
  def q357NoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir)
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val firstSeen = Dedup.shingles(spark, dir)
      .crossJoin(broadcast(ids))
      .select(col("shingle"), expr(
        "least(9L, (doc_id - lo) * 10 div (hi - lo + 1))").as("bucket"))
      .groupBy("shingle")
      .agg(min(col("bucket")).as("first_bucket"))
    val perBucket = spark.range(10)
      .select(col("id").as("first_bucket"))
      .join(firstSeen.groupBy("first_bucket")
        .agg(count(lit(1)).as("new_shingles")), Seq("first_bucket"),
        "left")
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
    perBucket
      .agg(expr("array_sort(collect_list(struct(first_bucket, new_shingles)))")
        .as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.first_bucket AS bucket, s.new_shingles AS new_shingles,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.new_shingles) AS cum_shingles,
          |  aggregate(a, 0L, (acc, t) -> acc + t.new_shingles)
          |    AS total_shingles)))""".stripMargin))
      .select(col("bucket"), col("new_shingles"), col("cum_shingles"),
        round(col("new_shingles").cast("double") / col("total_shingles"),
          6).as("new_share"),
        round(col("cum_shingles").cast("double") / col("total_shingles"),
          6).as("cum_share"))
      .orderBy("bucket")
  }

  /** q358 — NATION TRADE-FLOW MATRIX: revenue flowing from each
    * customer nation to each supplier nation (the order's customer
    * buys a line item from the line's supplier), with each pair's NET
    * imbalance vs the reverse flow — the who-supplies-whom matrix a
    * sourcing planner reads before q339's one-dimensional share
    * shifts. Exact cents; the net join runs on the |nations|² profile.
    *
    * Scale shape: fact×dim equi-joins (orderkey, custkey, suppkey) +
    * one pair-profile self-join. */
  def q358TradeFlows(spark: SparkSession, dir: String): DataFrame = {
    val flows = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("from_nation"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("to_nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("from_nation", "to_nation")
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("cents"))
    flows
      .join(broadcast(flows.select(col("from_nation").as("to_nation"),
        col("to_nation").as("from_nation"),
        col("cents").as("rev_cents"))),
        Seq("from_nation", "to_nation"), "left")
      .select(col("from_nation"), col("to_nation"), col("n_items"),
        col("cents"),
        (col("cents") - coalesce(col("rev_cents"), lit(0L)))
          .as("net_cents"))
      .orderBy("from_nation", "to_nation")
  }

  /** q359 — RETENTION-WEIGHTED LTV CURVE: for each week-of-life k,
    * the expected revenue a user contributes in that week —
    * revenue(k) / users-at-risk(k), where at-risk counts every
    * cohort old enough to be OBSERVABLE at offset k (right-censoring
    * handled the q235 Kaplan–Meier way) — and the cumulative curve,
    * which is the lifetime value estimate q349's retention matrix and
    * q330's weekly flows feed but don't finish. The per-week
    * increment collapses algebraically to ONE exact division
    * (retention × ARPU = cents/n_obs).
    *
    * Scale shape: user-grain folds, ≤|weeks|-row profiles, cumulative
    * via a grouping-less collect fold. */
  def q359LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val d0 = ev.agg(min(col("d")).as("d0"))
    val base = ev.crossJoin(broadcast(d0))
      .select(col("user_id"), expr("datediff(d, d0) div 7").as("week"),
        col("cents"))
    val cohorts = base.groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"))
    val maxW = base.agg(max(col("week")).as("max_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    val byOffset = base.join(cohorts, Seq("user_id"))
      .withColumn("k", col("week") - col("cohort_week"))
      .groupBy("k")
      .agg(sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_active_users"))
    // at-risk mass per offset: cohorts observable at k (tiny ≤-join:
    // weeks-profile × weeks-spine). Spine derived FROM THE DATA (the
    // observed offsets), exactly like the oracle's `DISTINCT k` — a
    // `spark.range(0, 1000)` literal would silently cap offsets at
    // 999 and drop ledger rows on a >19-year corpus while the oracle
    // kept them. Downstream is an inner join on k, so the two spines
    // are anyway equivalent only when nothing is capped.
    val spine = byOffset.select("k").distinct()
      .crossJoin(broadcast(maxW))
      .filter(col("k") <= col("max_week"))
    val atRisk = spine.join(broadcast(sizes),
        col("cohort_week") + col("k") <= col("max_week"))
      .groupBy("k").agg(sum(col("cohort_size")).as("n_obs"))
    val perK = byOffset.join(atRisk, Seq("k"))
      .withColumn("incr_micro",
        expr("cast(round(cents * 10000 / n_obs, 0) as bigint)"))
    perK
      .agg(expr(
        "array_sort(collect_list(struct(k, cents, n_active_users, " +
          "n_obs, incr_micro)))").as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.k AS week_offset, s.n_obs AS n_obs,
          |  s.n_active_users AS n_active, s.cents AS revenue_cents,
          |  s.incr_micro AS incr_micro,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.incr_micro) AS cum_micro)))"""
          .stripMargin))
      .select(col("week_offset"), col("n_obs"), col("n_active"),
        col("revenue_cents"),
        round(col("incr_micro").cast("double") / 1e6, 6)
          .as("incr_dollars"),
        round(col("cum_micro").cast("double") / 1e6, 6)
          .as("ltv_dollars"))
      .orderBy("week_offset")
  }

  /** q360 — COLUMN-ENCODING ADVISOR: for each orders column, the
    * exact ndv, ndv ratio, and mean value width, and the resulting
    * dictionary-vs-plain encoding call (ndv < 10% of rows) — the
    * writer-side companion to q286 (partition key) and q309 (Bloom
    * budget): which columns earn dictionary pages in the 100 TB
    * parquet layout. ONE melted scan (the q286 inline discipline),
    * never one pass per column.
    *
    * Exactness: counts/ndv exact, widths exact string lengths, the
    * ratio and mean width single divisions, the verdict an integer
    * comparison. */
  def q360EncodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    def cand(name: String, v: Column) =
      struct(lit(name).as("col_name"), v.cast("string").as("val"))
    Tables.orders(spark, dir).select(inline(array(
        cand("o_custkey", col("o_custkey")),
        cand("o_orderdate", col("o_orderdate").cast("string")),
        cand("o_orderpriority", col("o_orderpriority")),
        cand("o_orderstatus", col("o_orderstatus")),
        cand("o_totalprice", expr(
          "cast(cast(round(o_totalprice * 100, 0) as bigint) as string)")))))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("val")).as("ndv"),
        sum(length(col("val")).cast("long")).as("sum_len"))
      .select(col("col_name"), col("n_rows"), col("ndv"),
        round(col("ndv").cast("double") / col("n_rows"), 6)
          .as("ndv_ratio"),
        round(col("sum_len").cast("double") / col("n_rows"), 6)
          .as("avg_width"),
        (col("ndv") * 10L < col("n_rows")).as("dictionary_friendly"))
      .orderBy("col_name")
  }

  /** q361 — PSEUDONYMIZATION AUDIT: re-key the event stream's user ids
    * with the engine-portable 60-bit keyed hash (the GDPR-style
    * pseudonymization pass q159's erasure cascade presumes) and
    * register its safety contract as a checked artifact: zero hash
    * collisions at this corpus size (n² / 2⁶¹ expected — the audit is
    * the tripwire, not a proof), and referential integrity preserved
    * (every event joins back through the pseudonym map to exactly one
    * identity; per-key event multiset unchanged, checked as count +
    * max-group agreement).
    *
    * Scale shape: distinct-user fold, one hash map join, enum-free
    * single-row output. */
  def q361PseudonymizeAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val ids = ev.distinct()
      .withColumn("pseud",
        Hashing.md5Hash60(concat(lit("pseud:"), col("user_id"))))
    val byUser = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    val byPseud = ev.join(ids, Seq("user_id"))
      .groupBy("pseud").agg(count(lit(1)).as("n"))
    val a = ids.agg(count(lit(1)).as("n_users"),
      countDistinct(col("pseud")).as("n_pseudonyms"))
    val b = byUser.agg(count(lit(1)).as("u_groups"),
      sum(col("n")).as("u_events"), max(col("n")).as("u_max"))
    val c = byPseud.agg(count(lit(1)).as("p_groups"),
      sum(col("n")).as("p_events"), max(col("n")).as("p_max"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
      .select(col("n_users"), col("n_pseudonyms"),
        (col("n_users") - col("n_pseudonyms")).as("collisions"),
        (col("n_users") === col("n_pseudonyms")).as("collision_free"),
        (col("u_groups") === col("p_groups") &&
          col("u_events") === col("p_events") &&
          col("u_max") === col("p_max")).as("fk_preserved"),
        col("u_events").as("n_events"))
  }

  /** q362 — SHARD REBALANCING AUDIT: how many keys MOVE when the
    * shard count grows 32 → 33, under hash-modulo placement vs
    * RENDEZVOUS (highest-random-weight) placement — the measured
    * justification for HRW/consistent placement in any stateful layer
    * this engine feeds (q220's epoch shards, the q172 CDC-merge
    * serving table): modulo reshuffles ~32/33 of all keys, rendezvous
    * provably exactly the keys whose new shard WINS (~1/33). Both
    * schemes run on the portable md5Hash60, so the oracle verifies
    * exact per-key movement. Per (key, shard) weights are packed into
    * one comparable BIGINT code (w div 64)·64 + s — top 54 hash bits
    * then the shard id, so the argmax is a plain max with a pinned
    * tie-break and no struct comparison crosses engines.
    *
    * Scale shape: one distinct-key fold, a 33-wide generate per key
    * (enum fan-out), one grouped max; single-row output. */
  def q362ShardRebalance(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.events(spark, dir).select(col("user_id")).distinct()
      .withColumn("h",
        Hashing.md5Hash60(concat(lit("shard:"), col("user_id"))))
    val weighted = keys
      .select(col("user_id"), col("h"),
        explode(expr("sequence(0L, 32L)")).as("s"))
      .withColumn("code",
        expr("(cast(conv(substring(md5(concat('hrw:', user_id, ':', s)), " +
          "1, 15), 16, 10) as bigint) div 64) * 64 + s"))
    weighted
      .groupBy("user_id", "h")
      .agg(pmod(max(when(col("s") < 32L, col("code"))), lit(64L))
          .as("hrw32"),
        pmod(max(col("code")), lit(64L)).as("hrw33"))
      .select(
        (pmod(col("h"), lit(32L)) =!= pmod(col("h"), lit(33L)))
          .as("mod_moved"),
        (col("hrw32") =!= col("hrw33")).as("hrw_moved"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("mod_moved"), 1L).otherwise(0L)).as("mod_moved"),
        sum(when(col("hrw_moved"), 1L).otherwise(0L)).as("hrw_moved"))
      .select(col("n_keys"), col("mod_moved"),
        round(col("mod_moved").cast("double") / col("n_keys"), 6)
          .as("mod_moved_frac"),
        col("hrw_moved"),
        round(col("hrw_moved").cast("double") / col("n_keys"), 6)
          .as("hrw_moved_frac"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q356_broadcast_advisor", q356BroadcastAdvisor _,
      s"""SELECT * FROM (
        |  SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT)
        |           AS n_rows,
        |         CAST(sum(len(c_name) + len(c_mktsegment) + 20)
        |              AS BIGINT) AS est_bytes,
        |         round(CAST(sum(len(c_name) + len(c_mktsegment) + 20)
        |                    AS DOUBLE) / count(*), 6) AS bytes_per_row,
        |         sum(len(c_name) + len(c_mktsegment) + 20)
        |           <= $BroadcastBudget AS broadcastable
        |  FROM customer
        |  UNION ALL
        |  SELECT 'nation', CAST(count(*) AS BIGINT),
        |         CAST(sum(len(n_name) + 8) AS BIGINT),
        |         round(CAST(sum(len(n_name) + 8) AS DOUBLE) / count(*), 6),
        |         sum(len(n_name) + 8) <= $BroadcastBudget
        |  FROM nation
        |  UNION ALL
        |  SELECT 'part', CAST(count(*) AS BIGINT),
        |         CAST(sum(len(p_name) + len(p_brand) + len(p_type) + 20)
        |              AS BIGINT),
        |         round(CAST(sum(len(p_name) + len(p_brand) + len(p_type)
        |                        + 20) AS DOUBLE) / count(*), 6),
        |         sum(len(p_name) + len(p_brand) + len(p_type) + 20)
        |           <= $BroadcastBudget
        |  FROM part
        |  UNION ALL
        |  SELECT 'region', CAST(count(*) AS BIGINT),
        |         CAST(sum(len(r_name) + 4) AS BIGINT),
        |         round(CAST(sum(len(r_name) + 4) AS DOUBLE) / count(*), 6),
        |         sum(len(r_name) + 4) <= $BroadcastBudget
        |  FROM region
        |  UNION ALL
        |  SELECT 'supplier', CAST(count(*) AS BIGINT),
        |         CAST(sum(len(s_name) + 20) AS BIGINT),
        |         round(CAST(sum(len(s_name) + 20) AS DOUBLE) / count(*), 6),
        |         sum(len(s_name) + 20) <= $BroadcastBudget
        |  FROM supplier)
        |ORDER BY table_name""".stripMargin),
    QueryDef("q357_novelty_curve", q357NoveltyCurve _,
      (s"WITH ${Dedup.shinglesCte},\n" +
      """ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
        |        FROM documents),
        |fs AS (
        |  SELECT shingle,
        |         min(least(9, (doc_id - (SELECT lo FROM ids)) * 10
        |             // ((SELECT hi FROM ids) - (SELECT lo FROM ids) + 1)))
        |           AS first_bucket
        |  FROM shingles GROUP BY 1),
        |pb AS (
        |  SELECT s.b AS bucket,
        |         CAST(coalesce(count(fs.shingle), 0) AS BIGINT)
        |           AS new_shingles
        |  FROM generate_series(0, 9) s(b)
        |  LEFT JOIN fs ON fs.first_bucket = s.b
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(new_shingles) AS BIGINT) AS t FROM pb)
        |SELECT bucket, new_shingles,
        |       CAST(sum(new_shingles) OVER (ORDER BY bucket
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_shingles,
        |       round(CAST(new_shingles AS DOUBLE) / (SELECT t FROM tot), 6)
        |         AS new_share,
        |       round(CAST(sum(new_shingles) OVER (ORDER BY bucket
        |           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |         / (SELECT t FROM tot), 6) AS cum_share
        |FROM pb ORDER BY bucket""".stripMargin)),
    QueryDef("q358_trade_flows", q358TradeFlows _,
      """WITH flows AS (
        |  SELECT c.c_nationkey AS from_nation, s.s_nationkey AS to_nation,
        |         CAST(count(*) AS BIGINT) AS n_items,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT f.from_nation, f.to_nation, f.n_items, f.cents,
        |       f.cents - coalesce(r.cents, 0) AS net_cents
        |FROM flows f
        |LEFT JOIN flows r ON r.from_nation = f.to_nation
        |                 AND r.to_nation = f.from_nation
        |ORDER BY f.from_nation, f.to_nation""".stripMargin),
    QueryDef("q359_ltv_curve", q359LtvCurve _,
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |d0 AS (SELECT min(d) AS d0 FROM ev),
        |base AS (
        |  SELECT user_id,
        |         date_diff('day', (SELECT d0 FROM d0), d) // 7 AS week,
        |         cents
        |  FROM ev),
        |coh AS (SELECT user_id, min(week) AS cohort_week
        |        FROM base GROUP BY 1),
        |mx AS (SELECT max(week) AS max_week FROM base),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT)
        |            AS cohort_size FROM coh GROUP BY 1),
        |by_k AS (
        |  SELECT b.week - c.cohort_week AS k,
        |         CAST(sum(b.cents) AS BIGINT) AS cents,
        |         CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_active
        |  FROM base b JOIN coh c ON c.user_id = b.user_id
        |  GROUP BY 1),
        |at_risk AS (
        |  SELECT t.k, CAST(sum(s.cohort_size) AS BIGINT) AS n_obs
        |  FROM (SELECT DISTINCT k FROM by_k) t
        |  JOIN sizes s ON s.cohort_week + t.k <= (SELECT max_week FROM mx)
        |  GROUP BY 1),
        |per_k AS (
        |  SELECT b.k, a.n_obs, b.n_active, b.cents,
        |         CAST(round(b.cents * 10000 / a.n_obs, 0) AS BIGINT)
        |           AS incr_micro
        |  FROM by_k b JOIN at_risk a ON a.k = b.k)
        |SELECT k AS week_offset, n_obs, n_active,
        |       cents AS revenue_cents,
        |       round(CAST(incr_micro AS DOUBLE) / 1e6, 6) AS incr_dollars,
        |       round(CAST(sum(incr_micro) OVER (ORDER BY k
        |           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6, 6)
        |         AS ltv_dollars
        |FROM per_k ORDER BY week_offset""".stripMargin),
    QueryDef("q360_encoding_advisor", q360EncodingAdvisor _,
      """WITH melted AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR)
        |    AS val FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice',
        |         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |              AS VARCHAR)
        |  FROM orders)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT val) AS BIGINT) AS ndv,
        |       round(CAST(count(DISTINCT val) AS DOUBLE) / count(*), 6)
        |         AS ndv_ratio,
        |       round(CAST(sum(len(val)) AS DOUBLE) / count(*), 6)
        |         AS avg_width,
        |       count(DISTINCT val) * 10 < count(*) AS dictionary_friendly
        |FROM melted GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q361_pseudonymize_audit", q361PseudonymizeAudit _,
      """WITH ids AS (
        |  SELECT DISTINCT user_id FROM events),
        |mapped AS (
        |  SELECT user_id,
        |         ('0x' || substr(md5('pseud:' || CAST(user_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS pseud
        |  FROM ids),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(count(DISTINCT pseud) AS BIGINT) AS n_pseudonyms
        |      FROM mapped),
        |bu AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS u_groups,
        |             CAST(sum(n) AS BIGINT) AS u_events,
        |             CAST(max(n) AS BIGINT) AS u_max FROM bu),
        |bp AS (SELECT m.pseud, count(*) AS n
        |       FROM events e JOIN mapped m ON m.user_id = e.user_id
        |       GROUP BY 1),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS p_groups,
        |             CAST(sum(n) AS BIGINT) AS p_events,
        |             CAST(max(n) AS BIGINT) AS p_max FROM bp)
        |SELECT a.n_users, a.n_pseudonyms,
        |       a.n_users - a.n_pseudonyms AS collisions,
        |       a.n_users = a.n_pseudonyms AS collision_free,
        |       (b.u_groups = c.p_groups AND b.u_events = c.p_events
        |        AND b.u_max = c.p_max) AS fk_preserved,
        |       b.u_events AS n_events
        |FROM a, b, c""".stripMargin),
    QueryDef("q362_shard_rebalance", q362ShardRebalance _,
      """WITH keys AS (
        |  SELECT DISTINCT user_id,
        |         ('0x' || substr(md5('shard:' || CAST(user_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM events),
        |weighted AS (
        |  SELECT k.user_id, k.h, s.s,
        |         (('0x' || substr(md5('hrw:' || CAST(k.user_id AS VARCHAR)
        |             || ':' || CAST(s.s AS VARCHAR)), 1, 15))::BIGINT // 64)
        |           * 64 + s.s AS code
        |  FROM keys k, generate_series(0, 32) s(s)),
        |placed AS (
        |  SELECT user_id, h,
        |         max(CASE WHEN s < 32 THEN code END) % 64 AS hrw32,
        |         max(code) % 64 AS hrw33
        |  FROM weighted GROUP BY 1, 2),
        |moved AS (
        |  SELECT (h % 32) <> (h % 33) AS mod_moved,
        |         hrw32 <> hrw33 AS hrw_moved
        |  FROM placed)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END) AS BIGINT)
        |         AS mod_moved,
        |       round(CAST(sum(CASE WHEN mod_moved THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS mod_moved_frac,
        |       CAST(sum(CASE WHEN hrw_moved THEN 1 ELSE 0 END)
        |            AS BIGINT) AS hrw_moved,
        |       round(CAST(sum(CASE WHEN hrw_moved THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS hrw_moved_frac
        |FROM moved""".stripMargin))
}
