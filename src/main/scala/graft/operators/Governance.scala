package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
         |ORDER BY w.class_size, w.nat, w.seg, w.bkt""".stripMargin))
}
