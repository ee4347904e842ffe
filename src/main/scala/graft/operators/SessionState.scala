package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] incremental sessionization across a batch boundary (q166) —
  * the nightly-refresh story (q135 facts, q102 sketches, q127 chunks)
  * applied to the operator where incrementality is genuinely hard:
  * SESSIONS, whose state can straddle the boundary. A session open at
  * the end of day 1 must MERGE with day 2's first events if the gap
  * stays under threshold; closing it eagerly double-counts, merging
  * too eagerly glues distinct sessions.
  *
  * State discipline (the batch twin of `Streams.timeoutSessions`'
  * mapGroupsWithState): after batch 1, AT MOST ONE session per user
  * can still merge — its last session, and only if it ends within one
  * gap of the boundary. That (user, start, end, n) tuple IS the whole
  * carried state: O(users), not O(events) — what a production
  * pipeline persists between nightly runs. Batch 2 sessionizes
  * independently; a full-outer join of the open state against batch
  * 2's FIRST session per user decides merge vs close, every later
  * session passes through untouched — merging extends a session's
  * START backward only, so it can never cascade into the next
  * session's gap.
  *
  * Correctness is the strongest available: the ORACLE is the plain
  * full-recompute sessionization (q81's SQL shape) over all events —
  * the driver's hash compare literally proves incremental == full,
  * the same equivalence q135 pins for facts. Everything is integer
  * microseconds; the split cutoff derives from the data (q151's
  * midpoint discipline).
  *
  * Also here: batch gap sessionization (q81) and session path mining
  * (q355), both on the same 30-minute gap ([[GapUs]]).
  */
object SessionState {

  private[graft] val GapUs = 1800L * 1000000L

  /** Oracle CTE text of the 30-minute sessionizer: `marked` flags an
    * event that follows its user's previous one by more than 30 minutes
    * (or has none), `sessions` numbers the sessions per user in
    * `session_idx`. Shared by q81 and q166. */
  private val SessionsCte =
    """marked AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
      |                OR epoch_us(CAST(ts AS TIMESTAMP))
      |                   - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
      |                   > 1800 * 1000000
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      |sessions AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |              ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      |            AS INT) AS session_idx
      |  FROM marked)""".stripMargin

  /** Sessionize one batch: q81's lag + cumulative-sum islands. */
  private def sessionize(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev.withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("us") - col("prev") > GapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("s_us"), max(col("us")).as("e_us"))
  }

  /** q166 — split the stream at the data-derived midpoint, sessionize
    * each half independently, carry only the per-user open-session
    * state across the boundary, merge-or-close, and emit the final
    * session table. Output == the full recompute (the oracle). */
  def q166IncrementalSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
    val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val flagged = ev.crossJoin(broadcast(cut))
    val s1 = sessionize(flagged.filter(col("us") < col("cut"))
      .select("user_id", "us", "event_id"))
      .crossJoin(broadcast(cut))
    // the carried state: last session per user, still within one gap
    // of the boundary — O(users) rows
    val wLast = Window.partitionBy("user_id").orderBy(col("s_us").desc)
    val s1r = s1.withColumn("rn", row_number().over(wLast))
    val open = s1r.filter(col("rn") === 1 && col("e_us") >= col("cut") - GapUs)
      .select(col("user_id"), col("s_us").as("o_s"), col("e_us").as("o_e"),
        col("n_events").as("o_n"))
    val closed1 = s1r.filter(!(col("rn") === 1 && col("e_us") >= col("cut") - GapUs))
      .select("user_id", "s_us", "e_us", "n_events")
    // batch 2, sessionized independently; only its FIRST session per
    // user can touch the carried state
    val s2 = sessionize(flagged.filter(col("us") >= col("cut"))
      .select("user_id", "us", "event_id"))
    val wFirst = Window.partitionBy("user_id").orderBy("s_us")
    val s2r = s2.withColumn("rn", row_number().over(wFirst))
    val s2first = s2r.filter(col("rn") === 1)
      .select(col("user_id"), col("s_us").as("b_s"), col("e_us").as("b_e"),
        col("n_events").as("b_n"))
    val s2rest = s2r.filter(col("rn") > 1)
      .select("user_id", "s_us", "e_us", "n_events")
    val joined = open.join(s2first, Seq("user_id"), "full_outer")
    val merged = joined.select(col("user_id"),
      when(col("o_s").isNotNull && col("b_s").isNotNull &&
          col("b_s") - col("o_e") <= GapUs,
        array(struct(col("o_s").as("s_us"), col("b_e").as("e_us"),
          (col("o_n") + col("b_n")).as("n_events"))))
      .when(col("o_s").isNotNull && col("b_s").isNotNull,
        array(struct(col("o_s").as("s_us"), col("o_e").as("e_us"),
            col("o_n").as("n_events")),
          struct(col("b_s").as("s_us"), col("b_e").as("e_us"),
            col("b_n").as("n_events"))))
      .when(col("o_s").isNotNull,
        array(struct(col("o_s").as("s_us"), col("o_e").as("e_us"),
          col("o_n").as("n_events"))))
      .otherwise(
        array(struct(col("b_s").as("s_us"), col("b_e").as("e_us"),
          col("b_n").as("n_events")))).as("ss"))
      .select(col("user_id"), explode(col("ss")).as("s"))
      .select(col("user_id"), col("s.s_us").as("s_us"),
        col("s.e_us").as("e_us"), col("s.n_events").as("n_events"))
    val all = closed1.unionByName(merged).unionByName(s2rest)
    val wIdx = Window.partitionBy("user_id").orderBy("s_us")
    all.withColumn("session_idx", row_number().over(wIdx))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        timestamp_micros(col("s_us")).as("session_start"),
        timestamp_micros(col("e_us")).as("session_end"),
        expr("(e_us - s_us) div 1000000").as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  /** q81 — gap-based sessionization in batch: a new session starts after
    * >30 min of inactivity. lag + cumulative-sum islands — the batch
    * equivalent of q46's `session_window`, and the shape that scales:
    * shuffle once on user_id, then per-user sorted window state. */
  def q81SessionizeGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > GapUs, 1)
        .otherwise(0))
      .withColumn("session_idx", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .withColumn("duration_sec", expr(
        "(unix_micros(session_end) - unix_micros(session_start)) div 1000000"))
      .orderBy("user_id", "session_idx")
  }

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
        when(col("us") - lag(col("us"), 1).over(w) > GapUs, 1L)
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

  /** The oracle is the FULL recompute — hash equality proves the
    * incremental path reconstructs it exactly. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q166_incremental_sessions", q166IncrementalSessions _,
      s"""WITH $SessionsCte
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
        |         AS duration_sec
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),
    QueryDef("q81_sessionize_gaps", q81SessionizeGaps _,
      s"""WITH $SessionsCte
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),
    QueryDef("q355_session_paths", q355SessionPaths _,
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |         CASE WHEN us - lag(us) OVER (PARTITION BY user_id
        |                ORDER BY us, event_id) > $GapUs
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
