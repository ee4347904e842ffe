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
  */
object SessionState {

  private val GapUs = 1800L * 1000000L

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

  /** The oracle is the FULL recompute — hash equality proves the
    * incremental path reconstructs it exactly. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q166_incremental_sessions", q166IncrementalSessions _,
      """WITH marked AS (
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
        |  FROM marked)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
        |         AS duration_sec
        |FROM sessions GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin))
}
