package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] data-governance operators: erasure propagation (q159) and
  * deterministic MLM-style token masking (q160).
  *
  * q159 is the right-to-be-forgotten cascade every pipeline that stores
  * user-derived data must run: given a forget-list of principals,
  * delete their rows from every table — including rows that reference
  * them only TRANSITIVELY (customer → orders → lineitem). The audit
  * row per table (before/deleted/after) is what the compliance log
  * keeps.
  *
  * q160 is the masked-language-model data prep step: a deterministic
  * fraction of tokens is replaced by a sentinel and extracted as the
  * prediction target. Mask choice is a content-independent hash race
  * over (doc_id, pos) — the q112/q131 never-rand() discipline — so the
  * same document always masks the same positions under repartitioning,
  * retries, and re-runs: reproducible training data.
  *
  * Also here: the pseudonymization audit (q361), small-cell suppression
  * (q378) and the retention-policy sweep (q379).
  */
object Governance {

  /** Forget-list modulus: principals with user_id ≡ 0 (mod 37). */
  private[graft] val ForgetMod = 37

  /** q159 — erasure cascade with per-table audit. The forget list is
    * data-derived (distinct event users ≡ 0 mod [[ForgetMod]] — in
    * production an explicit uploaded list; the JOIN shapes below are
    * the point, not the predicate). Cascade: events and customer match
    * the principal key directly; orders erase via their (erased)
    * customer; lineitem via its (erased) order — a two-hop transitive
    * closure done as two semi-joins, never a predicate shortcut, so
    * the plan is the one a real forget-list drives. Scale: the forget
    * list and each erased-key frontier broadcast (erasure batches are
    * driver-small by nature); the lineitem semi-join keys on
    * l_orderkey, which q134's bucketed layout makes shuffle-free; all
    * counts are one conditional aggregate per table scan. */
  def q159ErasureCascade(spark: SparkSession, dir: String): DataFrame = {
    val forget = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(ForgetMod)) === 0)
    val events = Tables.events(spark, dir)
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val delCust = customer.join(broadcast(forget),
      col("c_custkey") === col("user_id")).select("c_custkey")
    val delOrd = orders.join(broadcast(delCust),
      col("o_custkey") === col("c_custkey")).select("o_orderkey")
    def audit(name: String, df: DataFrame, deleted: DataFrame,
        key: String, delKey: String): DataFrame =
      df.join(broadcast(deleted.withColumn("__del", lit(1))),
          col(key) === col(delKey), "left_outer")
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("__del").isNotNull, 1L).otherwise(0L)).as("n_deleted"))
        .select(lit(name).as("table_name"), col("n_before"),
          col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"))
    audit("customer", customer,
        forget.select(col("user_id").as("__k")), "c_custkey", "__k")
      .unionAll(audit("events", events,
        forget.select(col("user_id").as("__k")), "user_id", "__k"))
      .unionAll(audit("lineitem", lineitem,
        delOrd.select(col("o_orderkey").as("__k")), "l_orderkey", "__k"))
      .unionAll(audit("orders", orders,
        delCust.select(col("c_custkey").as("__k")), "o_custkey", "__k"))
      .orderBy("table_name")
  }

  /** Mask rate for q160: positions whose 60-bit hash ≡ 0 (mod 20) — an
    * expected 5% of tokens. */
  private[graft] val MaskMod = 20

  /** q160 — deterministic MLM masking: token at (doc_id, pos) is
    * masked iff md5Hash60("doc_id:pos") ≡ 0 mod [[MaskMod]]. Emits the
    * masked input and the ordered target sequence as md5 digests (the
    * q64 hashed-rebuild discipline — the compare needs equality, not
    * the text) plus exact counts. Single posexplode + one groupBy per
    * doc: O(tokens) rows, shuffle on doc_id only, no joins. Span
    * merging (T5-style) is a deliberate non-goal here: single-token
    * masking keeps the target alignment trivially checkable; a span
    * variant composes this hash race with q81's gap-islands grouping. */
  def q160MlmMask(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("pos", "word")))
      .withColumn("m",
        pmod(Hashing.md5Hash60(concat(col("doc_id"), lit(":"), col("pos"))),
          lit(MaskMod)) === 0)
    toks.groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), col("word"), col("m"))).as("ts"))
      .select(col("doc_id"),
        expr("sort_array(ts)").as("ts"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          expr("transform(ts, s -> IF(s.m, '<mask>', s.word))"))).as("masked_md5"),
        size(col("ts")).as("n_tokens"),
        size(expr("filter(ts, s -> s.m)")).as("n_masked"),
        when(size(expr("filter(ts, s -> s.m)")) > 0,
          md5(concat_ws(" ",
            expr("transform(filter(ts, s -> s.m), s -> s.word)"))))
          .as("target_md5"))
      .orderBy("doc_id")
  }

  /** k-anonymity threshold for q216. */
  private[graft] val KAnon = 5L
  private[graft] val WorstClasses = 10

  /** q216 — k-ANONYMITY / l-DIVERSITY audit: before a table leaves a
    * trust boundary, group it by its QUASI-IDENTIFIERS (here nation ×
    * market segment × balance-k$-bucket — attributes an adversary can
    * link externally) and measure re-identification risk: a row in an
    * equivalence class smaller than k is linkable, and a class whose
    * SENSITIVE attribute (account balance cents) takes few distinct
    * values leaks it even at size ≥ k (the l-diversity refinement).
    * Output: the [[WorstClasses]] smallest classes (size asc — the
    * release blockers), each with its size and distinct-sensitive
    * count, plus the global audit — class count, k_min, rows below
    * [[KAnon]] and their fraction, l_min — broadcast onto every row
    * (the q201 shape: one table, audit-complete).
    *
    * Scale shape: ONE combinable group-by on the quasi-id key folds
    * size and distinct-sensitive per class (count_distinct shuffles
    * once on (class, value)); every global statistic is a 1-row
    * aggregate over the CLASS table (quasi-id-cardinality-bounded);
    * the worst-offender pick is a TakeOrdered. Integers end-to-end
    * except the one fraction division. */
  def q216KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        expr("cast(floor(c_acctbal / 1000) as int)").as("bkt"),
        expr("cast(round(c_acctbal * 100, 0) as bigint)").as("sens"))
      .groupBy("nat", "seg", "bkt")
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col("sens")).as("l_distinct"))
    val global = classes.agg(
      count(lit(1)).as("n_classes"),
      sum(col("class_size")).as("n_rows"),
      min(col("class_size")).as("k_min"),
      sum(when(col("class_size") < KAnon, col("class_size"))
        .otherwise(0L)).as("rows_below_k"),
      min(col("l_distinct")).as("l_min"))
    classes
      .orderBy(col("class_size"), col("nat"), col("seg"), col("bkt"))
      .limit(WorstClasses)
      .crossJoin(broadcast(global))
      .select(col("nat"), col("seg"), col("bkt"), col("class_size"),
        col("l_distinct"), col("n_classes"), col("k_min"),
        col("rows_below_k"),
        round(col("rows_below_k").cast("double") / col("n_rows"), 6)
          .as("frac_below_k"),
        col("l_min"))
      .orderBy(col("class_size"), col("nat"), col("seg"), col("bkt"))
  }

  /** q245 clip ladder (percentiles of the user-contribution
    * distribution, in basis points for exact literals). */
  private[graft] val ClipLadderBp: Seq[Int] = Seq(5000, 9000, 9500, 9900)

  /** q245 — DP CONTRIBUTION-BOUNDING (clipping) calibration: before a
    * differentially-private release of total spend, every user's
    * contribution must be CLIPPED to a bound C — C IS the query's
    * sensitivity, so the noise scale is proportional to it. Too low a
    * clip biases the total (mass lost); too high wastes the privacy
    * budget on noise. This audit walks a data-derived ladder of clip
    * levels (the p50/p90/p95/p99 of the user-contribution
    * distribution, rounded to whole cents) and reports, per level:
    * users clipped and the retained-mass fraction — the
    * bias-vs-sensitivity curve the DP engineer reads to pick C.
    * (The release itself adds calibrated noise — inherently random
    * and NOT an oracle-comparable operator; the calibration audit is
    * the deterministic part, and the part that needs the data.)
    *
    * Exactness: contributions and clip bounds are exact BIGINT cents
    * (the percentile is rounded to integer cents BEFORE clipping, so
    * Σ min(x, C) folds exactly); every fraction is one division.
    *
    * Scale shape: one user fold of the scan; the ladder is a 4-row
    * broadcast; per-level stats are one conditional fold over the
    * USER PROFILE × 4 ladder rows. */
  def q245ClipCalibration(spark: SparkSession, dir: String): DataFrame = {
    val userTotals = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
    val probes = ClipLadderBp.map(_ / 10000.0)
    val ladder = userTotals
      .agg(expr(s"percentile(cents, array(${probes.mkString(", ")}))")
        .as("ps"))
      .select(posexplode(expr(
        "transform(ps, p -> cast(round(p, 0) as bigint))"))
        .as(Seq("ix", "clip_cents")))
      .select(concat(lit("p"), element_at(
          expr(s"array(${ClipLadderBp.map(_ / 100).mkString(", ")})"),
          col("ix") + 1).cast("string")).as("clip_label"),
        col("clip_cents"))
    userTotals.crossJoin(broadcast(ladder))
      .groupBy("clip_label", "clip_cents")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("cents") > col("clip_cents"), 1L).otherwise(0L))
          .as("n_clipped"),
        sum(col("cents")).as("raw_cents"),
        sum(least(col("cents"), col("clip_cents"))).as("clipped_cents"))
      .select(col("clip_label"), col("clip_cents"), col("n_users"),
        col("n_clipped"),
        round(col("n_clipped").cast("double") / col("n_users"), 6)
          .as("clipped_user_frac"),
        round(col("clipped_cents").cast("double") /
          col("raw_cents").cast("double"), 6).as("retained_mass"))
      .orderBy("clip_cents")
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

  /** q378 small-cell threshold (the statistical-disclosure "rule of
    * five") . */
  private[graft] val SuppressK = 5L

  /** q378 — SMALL-CELL SUPPRESSION with one-round complementary
    * protection: the (nation × segment) purchasing-customer/revenue
    * table is published with PRIMARY suppression of cells under
    * [[SuppressK]] customers, then — because row and column totals
    * are published too — any line left with EXACTLY ONE suppressed
    * cell gets its smallest unsuppressed cell suppressed as a
    * COMPLEMENT (rows first, then columns; a single declared round,
    * deterministic (n, key) pick — the greedy a disclosure-control
    * office actually runs, not the NP-hard exact audit). Extends
    * q216's k-anonymity (which grades the quasi-id classes) to the
    * RELEASE side: what a safe publication of this table looks like.
    *
    * Scale shape: one fact fold to the ≤ |nations|·|segments| cell
    * profile; both passes are windows PARTITIONED by an enum key. */
  def q378CellSuppression(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("n_name").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(countDistinct(col("c_custkey")).as("n_custs"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
          .as("cents"))
      .withColumn("primary_sup", col("n_custs") < SuppressK)
    val wRow = Window.partitionBy("nation")
    val wRowPick = Window.partitionBy("nation")
      .orderBy(col("n_custs").asc, col("segment").asc)
    val afterRow = cells
      .withColumn("row_primaries",
        sum(col("primary_sup").cast("long")).over(wRow))
      .withColumn("row_pick", row_number().over(wRowPick) ===
        sum(when(col("primary_sup"), 1L).otherwise(0L)).over(wRowPick)
          + 1L)
      .withColumn("row_comp", !col("primary_sup") &&
        col("row_primaries") === 1L && col("row_pick"))
      .drop("row_primaries", "row_pick")
    val wCol = Window.partitionBy("segment")
    val wColPick = Window.partitionBy("segment")
      .orderBy(col("n_custs").asc, col("nation").asc)
    val sup = col("primary_sup") || col("row_comp")
    afterRow
      .withColumn("col_suppressed", sum(sup.cast("long")).over(wCol))
      .withColumn("col_pick", row_number().over(wColPick) ===
        sum(when(sup, 1L).otherwise(0L)).over(wColPick) + 1L)
      .withColumn("col_comp", !sup &&
        col("col_suppressed") === 1L && col("col_pick"))
      .select(col("nation"), col("segment"), col("n_custs"),
        when(col("primary_sup"), "primary")
          .when(col("row_comp"), "row_complement")
          .when(col("col_comp"), "col_complement")
          .otherwise("none").as("suppression"),
        when(col("primary_sup") || col("row_comp") || col("col_comp"),
          lit(null).cast("double"))
          .otherwise(round(col("cents").cast("double") / 100.0, 2))
          .as("published_dollars"))
      .orderBy("nation", "segment")
  }

  /** q379 retention horizon (days — declared policy). */
  private[graft] val RetentionDays = 365

  /** q379 — RETENTION-POLICY SWEEP: per event type, the events older
    * than [[RetentionDays]] before the corpus's latest timestamp —
    * count, share, and estimated reclaim bytes (declared row width) —
    * the age-based deletion worklist that complements q215/q361's
    * subject-keyed erasure (GDPR storage-limitation vs
    * right-to-erasure are different sweeps). Exact integer date
    * arithmetic; one enum-sized fold of the scan. */
  def q379RetentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
    val cutoff = broadcast(ev.agg(
      date_sub(max(col("d")), RetentionDays).as("cutoff")))
    ev.crossJoin(cutoff)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("d") < col("cutoff"), 1L).otherwise(0L))
          .as("n_expired"),
        max(col("cutoff")).as("cutoff"))
      .select(col("event_type"), col("n_events"), col("n_expired"),
        round(col("n_expired").cast("double") / col("n_events"), 6)
          .as("expired_share"),
        (col("n_expired") * 64L).as("est_reclaim_bytes"),
        col("cutoff"))
      .orderBy("event_type")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q245_clip_calibration", q245ClipCalibration _,
      {
      val probes = ClipLadderBp.map(_ / 10000.0)
      val labels = ClipLadderBp.map(bp => s"'p${bp / 100}'")
      s"""WITH ut AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |ladder AS (
        |  SELECT [${labels.mkString(", ")}][ix] AS clip_label,
        |         CAST(round(ps[ix], 0) AS BIGINT) AS clip_cents
        |  FROM (SELECT quantile_cont(CAST(cents AS DOUBLE),
        |                             [${probes.mkString(", ")}]) AS ps
        |        FROM ut),
        |       (SELECT unnest(generate_series(1, ${ClipLadderBp.size}))
        |          AS ix)),
        |stats AS (
        |  SELECT l.clip_label, l.clip_cents, count(*) AS n_users,
        |         CAST(count(*) FILTER (WHERE u.cents > l.clip_cents)
        |              AS BIGINT) AS n_clipped,
        |         CAST(sum(u.cents) AS BIGINT) AS raw_cents,
        |         CAST(sum(least(u.cents, l.clip_cents)) AS BIGINT)
        |           AS clipped_cents
        |  FROM ut u CROSS JOIN ladder l
        |  GROUP BY 1, 2)
        |SELECT clip_label, clip_cents, n_users, n_clipped,
        |       round(CAST(n_clipped AS DOUBLE) / n_users, 6)
        |         AS clipped_user_frac,
        |       round(CAST(clipped_cents AS DOUBLE)
        |             / CAST(raw_cents AS DOUBLE), 6) AS retained_mass
        |FROM stats ORDER BY clip_cents""".stripMargin
    }),
    QueryDef("q159_erasure_cascade", q159ErasureCascade _,
      s"""WITH forget AS (
         |  SELECT DISTINCT user_id FROM events WHERE user_id % $ForgetMod = 0),
         |delc AS (
         |  SELECT c_custkey FROM customer JOIN forget ON c_custkey = user_id),
         |delo AS (
         |  SELECT o_orderkey FROM orders JOIN delc ON o_custkey = c_custkey),
         |audit AS (
         |  SELECT 'customer' AS table_name, count(*) AS n_before,
         |         count(*) FILTER (c_custkey IN (SELECT user_id FROM forget))
         |           AS n_deleted
         |  FROM customer
         |  UNION ALL
         |  SELECT 'events', count(*),
         |         count(*) FILTER (user_id IN (SELECT user_id FROM forget))
         |  FROM events
         |  UNION ALL
         |  SELECT 'lineitem', count(*),
         |         count(*) FILTER (l_orderkey IN (SELECT o_orderkey FROM delo))
         |  FROM lineitem
         |  UNION ALL
         |  SELECT 'orders', count(*),
         |         count(*) FILTER (o_custkey IN (SELECT c_custkey FROM delc))
         |  FROM orders)
         |SELECT table_name, CAST(n_before AS BIGINT) AS n_before,
         |       CAST(n_deleted AS BIGINT) AS n_deleted,
         |       CAST(n_before - n_deleted AS BIGINT) AS n_after
         |FROM audit ORDER BY table_name""".stripMargin),
    QueryDef("q160_mlm_mask", q160MlmMask _,
      s"""WITH toks AS (
         |  SELECT doc_id, i - 1 AS pos, words[i] AS word
         |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS words,
         |               unnest(generate_series(1,
         |                 len(string_split(trim(text), ' ')))) AS i
         |        FROM documents)),
         |flagged AS (
         |  SELECT doc_id, pos, word,
         |         ('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT
         |           % $MaskMod = 0 AS m
         |  FROM toks)
         |SELECT doc_id,
         |       md5(string_agg(CASE WHEN m THEN '<mask>' ELSE word END,
         |                      ' ' ORDER BY pos)) AS masked_md5,
         |       CAST(count(*) AS INTEGER) AS n_tokens,
         |       CAST(count(*) FILTER (m) AS INTEGER) AS n_masked,
         |       md5(string_agg(word, ' ' ORDER BY pos) FILTER (m))
         |         AS target_md5
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("q216_k_anonymity", q216KAnonymity _,
      s"""WITH classes AS (
         |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         |         CAST(floor(c_acctbal / 1000) AS INTEGER) AS bkt,
         |         count(*) AS class_size,
         |         count(DISTINCT CAST(round(c_acctbal * 100, 0)
         |                             AS BIGINT)) AS l_distinct
         |  FROM customer GROUP BY 1, 2, 3),
         |global AS (
         |  SELECT count(*) AS n_classes,
         |         CAST(sum(class_size) AS BIGINT) AS n_rows,
         |         CAST(min(class_size) AS BIGINT) AS k_min,
         |         CAST(sum(CASE WHEN class_size < $KAnon
         |                       THEN class_size ELSE 0 END) AS BIGINT)
         |           AS rows_below_k,
         |         CAST(min(l_distinct) AS BIGINT) AS l_min
         |  FROM classes),
         |worst AS (
         |  SELECT nat, seg, bkt, CAST(class_size AS BIGINT) AS class_size,
         |         CAST(l_distinct AS BIGINT) AS l_distinct
         |  FROM classes
         |  ORDER BY class_size, nat, seg, bkt LIMIT $WorstClasses)
         |SELECT w.nat, w.seg, w.bkt, w.class_size, w.l_distinct,
         |       g.n_classes, g.k_min, g.rows_below_k,
         |       round(CAST(g.rows_below_k AS DOUBLE) / g.n_rows, 6)
         |         AS frac_below_k,
         |       g.l_min
         |FROM worst w CROSS JOIN global g
         |ORDER BY w.class_size, w.nat, w.seg, w.bkt""".stripMargin),
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
    QueryDef("q378_cell_suppression", q378CellSuppression _,
      s"""WITH cells AS (
        |  SELECT n.n_name AS nation, c.c_mktsegment AS segment,
        |         CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_custs,
        |         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |base AS (SELECT *, n_custs < $SuppressK AS primary_sup
        |         FROM cells),
        |rowp AS (
        |  SELECT *,
        |    sum(CASE WHEN primary_sup THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY nation) AS row_primaries,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY n_custs, segment) AS rn,
        |    sum(CASE WHEN primary_sup THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY nation ORDER BY n_custs, segment
        |            ROWS UNBOUNDED PRECEDING) AS pcum
        |  FROM base),
        |afterrow AS (
        |  SELECT nation, segment, n_custs, cents, primary_sup,
        |    (NOT primary_sup) AND row_primaries = 1 AND rn = pcum + 1
        |      AS row_comp
        |  FROM rowp),
        |colp AS (
        |  SELECT *,
        |    sum(CASE WHEN primary_sup OR row_comp THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY segment) AS col_suppressed,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY n_custs, nation) AS cn,
        |    sum(CASE WHEN primary_sup OR row_comp THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY segment ORDER BY n_custs, nation
        |            ROWS UNBOUNDED PRECEDING) AS scum
        |  FROM afterrow),
        |fin AS (
        |  SELECT *, (NOT (primary_sup OR row_comp))
        |        AND col_suppressed = 1 AND cn = scum + 1 AS col_comp
        |  FROM colp)
        |SELECT nation, segment, n_custs,
        |  CASE WHEN primary_sup THEN 'primary'
        |       WHEN row_comp THEN 'row_complement'
        |       WHEN col_comp THEN 'col_complement'
        |       ELSE 'none' END AS suppression,
        |  CASE WHEN primary_sup OR row_comp OR col_comp THEN NULL
        |       ELSE round(CAST(cents AS DOUBLE) / 100.0, 2)
        |  END AS published_dollars
        |FROM fin ORDER BY nation, segment""".stripMargin),
    QueryDef("q379_retention_sweep", q379RetentionSweep _,
      s"""WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |cut AS (SELECT max(d) - $RetentionDays AS cutoff FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
        |       round(CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS expired_share,
        |       CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                     THEN 1 ELSE 0 END) * 64 AS BIGINT)
        |         AS est_reclaim_bytes,
        |       (SELECT cutoff FROM cut) AS cutoff
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin))
}
