package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] breadth tranche 4 — four operator families the earlier
  * tranches don't carry: robust windowed smoothing (q190), frequent
  * journey mining (q191), skyline / Pareto-front preference queries
  * (q192), and cross-period rank-delta reporting (q193).
  *
  * Scale shape: q190's frame is row-bounded (21 events) per user key;
  * q191 folds each user's timeline to ONE bounded journey string
  * map-side-combinably (sort_array over a collected ≤full-timeline
  * struct array per user — per-user cardinality is activity-bounded,
  * the q81 session discipline) and then aggregates journeys, whose
  * distinct count is bounded by |types|^depth, not users; q192's 2-D
  * skyline is the one-pass running-max formulation (sort by price,
  * dominance = cummax compare) over the parts DIMENSION — never the
  * quadratic NOT-EXISTS join the oracle uses; q193 windows over two
  * period PROFILES of parts and joins them once.
  *
  * Determinism: journeys order by the unique (ts micros, event_id);
  * skyline/rank orders carry key tie-breaks; money is exact cents. */
object Breadth4 {

  /** Rolling frame half-width for q190 (10 preceding + current). */
  private[graft] val MedianFrame = 10

  /** q190 — rolling median smoother: per user, the median of the last
    * [[MedianFrame]]+1 event values (exact cents) along the timeline —
    * the robust companion to q93's rolling z-score (one outlier drags
    * a rolling mean; it barely moves the rolling median). Exact
    * `percentile` as a frame aggregate; the frame is row-bounded so
    * per-row cost is O(frame log frame) regardless of corpus size. */
  def q190RollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(-MedianFrame, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .withColumn("med", expr(s"percentile(cents, 0.5d)").over(w))
      .select(col("user_id"), col("event_id"), col("cents"),
        round(col("med") / 100.0, 6).as("rolling_median"))
      .orderBy("user_id", "event_id")
  }

  /** Journey prefix depth for q191. */
  private[graft] val JourneyDepth = 5

  /** q191 — frequent journey mining: each user's first
    * [[JourneyDepth]] events (by time) concatenated into a journey
    * string, then the journey frequency table — "what do new users DO
    * first?", the prefix-mining question q84's one-step transition
    * matrix and q95's fixed-pattern regex cannot answer. Each user
    * folds to one bounded string via sort_array over the collected
    * (us, event_id, type) structs (deterministic: the pair is unique),
    * and the journey rollup's cardinality is ≤ |types|^depth. */
  def q191JourneyMining(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).as("rec"))
      .groupBy("user_id")
      .agg(collect_list(col("rec")).as("recs"))
      .select(array_join(
        expr(s"transform(slice(array_sort(recs), 1, $JourneyDepth), " +
          "r -> r.event_type)"), ">").as("journey"))
      .groupBy("journey").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("journey"))
  }

  /** q192 — skyline (Pareto-front) preference query over parts: the
    * parts for which no other part is both cheaper-or-equal and
    * larger-or-equal (with one strict) on (retail price ↓, size ↑) —
    * the multi-objective shortlist a buyer actually considers. The
    * 2-D skyline needs no dominance join: with `cheaper_max` = the
    * max size over all STRICTLY cheaper parts (a RANGE frame on price
    * ending 1 before the current price group), a part is on the front
    * iff its size exceeds that — equal-priced smaller-or-equal rows
    * are dominated by their own price group's max, handled by keeping
    * only each price group's (max size, min key) representative
    * first. The prefix max runs over the DISTINCT-PRICE profile via
    * [[DistributedRank.withRunningMaxExclusive]] (range-partitioned —
    * no global window even as the part dimension grows); the oracle
    * states dominance directly (NOT EXISTS), so the hash match proves
    * the one-pass form, including its tie handling. */
  def q192Skyline(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir).select(col("p_partkey"),
      expr("cast(round(p_retailprice * 100, 0) as bigint)").as("cents"),
      col("p_size"))
    // within a price group only the largest size can be on the front,
    // and among equal (price, size) every copy is (nothing separates
    // them on either axis — dominance requires one strict)
    val grp = parts.groupBy("cents")
      .agg(max(col("p_size")).cast("long").as("grp_max"))
    val grpWithPrefix = DistributedRank.withRunningMaxExclusive(
      grp, "grp_max", "cheaper_max", asc("cents"))
    parts.join(grpWithPrefix, Seq("cents"))
      .filter(col("p_size") === col("grp_max"))
      .filter(col("cheaper_max").isNull ||
        col("p_size") > col("cheaper_max"))
      .select(col("p_partkey"),
        round(col("cents") / 100.0, 2).as("price"), col("p_size"))
      .orderBy("p_partkey")
  }

  /** Top movers reported by q193. */
  private[graft] val TopMovers = 25

  /** q193 — cross-period rank delta (most-improved report): parts
    * ranked by revenue inside each half of the order-date span, the
    * two rank profiles joined once, top [[TopMovers]] climbers by
    * (rank improvement, revenue) — the "what's trending vs last
    * period?" report. Ranks are dense_rank over per-period part
    * profiles (dimension-sized) with key tie-breaks; parts absent in
    * a period are skipped (inner join) so every delta is defined. */
  def q193RankDelta(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
    val bounds = li.agg(min(col("o_orderdate")).as("t0"),
      max(col("o_orderdate")).as("t1"))
    val tagged = li.crossJoin(broadcast(bounds))
      .select(col("l_partkey").as("part"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("cents"),
        (unix_micros(col("o_orderdate")) * 2 <=
          unix_micros(col("t0")) + unix_micros(col("t1"))).as("first_half"))
    // per-period ranks via DistributedRank (range-partitioned global
    // ordinal — part profiles are dimension-sized and grow with the
    // corpus, so no single-task rank window), INT-cast to keep the
    // row_number schema it replaces
    def profile(firstHalf: Boolean): DataFrame = {
      val suffix = if (firstHalf) "a" else "b"
      val agg = tagged.filter(col("first_half") === firstHalf)
        .groupBy("part").agg(sum(col("cents")).as(s"cents_$suffix"))
      DistributedRank.withGlobalRank(agg, s"rank_${suffix}_l",
          col(s"cents_$suffix").desc, col("part").asc)
        .withColumn(s"rank_$suffix",
          col(s"rank_${suffix}_l").cast("int"))
        .drop(s"rank_${suffix}_l")
    }
    profile(firstHalf = true).join(profile(firstHalf = false), Seq("part"))
      .select(col("part"), col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("rank_gain"),
        col("cents_a"), col("cents_b"))
      .orderBy(col("rank_gain").desc, col("cents_b").desc, col("part"))
      .limit(TopMovers)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q190_rolling_median", q190RollingMedian _,
      s"""WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id, cents,
        |       round(quantile_cont(CAST(cents AS DOUBLE), 0.5) OVER (
        |         PARTITION BY user_id ORDER BY us, event_id
        |         ROWS BETWEEN $MedianFrame PRECEDING AND CURRENT ROW)
        |         / 100.0, 6) AS rolling_median
        |FROM ev ORDER BY user_id, event_id""".stripMargin),
    QueryDef("q191_journey_mining", q191JourneyMining _,
      s"""WITH ranked AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           AS rn
        |  FROM events),
        |journeys AS (
        |  SELECT user_id,
        |         string_agg(event_type, '>' ORDER BY rn) AS journey
        |  FROM ranked WHERE rn <= $JourneyDepth
        |  GROUP BY user_id)
        |SELECT journey, count(*) AS n_users
        |FROM journeys GROUP BY journey
        |ORDER BY n_users DESC, journey""".stripMargin),
    QueryDef("q192_skyline", q192Skyline _,
      """WITH parts AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents,
        |         p_size
        |  FROM part)
        |SELECT p_partkey, round(cents / 100.0, 2) AS price, p_size
        |FROM parts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM parts b
        |  WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        |    AND (b.cents < a.cents OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin),
    QueryDef("q193_rank_delta", q193RankDelta _,
      s"""WITH li AS (
        |  SELECT l.l_partkey AS part,
        |         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |         epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS us
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |bounds AS (SELECT min(us) AS t0, max(us) AS t1 FROM li),
        |pa AS (
        |  SELECT part, CAST(sum(cents) AS BIGINT) AS cents_a
        |  FROM li WHERE us * 2 <= (SELECT t0 + t1 FROM bounds)
        |  GROUP BY part),
        |pb AS (
        |  SELECT part, CAST(sum(cents) AS BIGINT) AS cents_b
        |  FROM li WHERE NOT (us * 2 <= (SELECT t0 + t1 FROM bounds))
        |  GROUP BY part),
        |ra AS (SELECT part, cents_a, CAST(row_number() OVER (
        |         ORDER BY cents_a DESC, part ASC) AS INTEGER) AS rank_a
        |       FROM pa),
        |rb AS (SELECT part, cents_b, CAST(row_number() OVER (
        |         ORDER BY cents_b DESC, part ASC) AS INTEGER) AS rank_b
        |       FROM pb)
        |SELECT part, rank_a, rank_b, rank_a - rank_b AS rank_gain,
        |       cents_a, cents_b
        |FROM ra JOIN rb USING (part)
        |ORDER BY rank_gain DESC, cents_b DESC, part
        |LIMIT $TopMovers""".stripMargin))
}
