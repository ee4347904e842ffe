package graft

import org.apache.spark.sql.functions._

import graft.operators.SessionState

/** q166 — the oracle hash compare already proves incremental == full;
  * this spec proves the comparison is NON-TRIVIAL on this data (state
  * really straddles the boundary and merges really happen) and that
  * the carried state is O(users). */
class SessionStateSpec extends SparkTestBase {

  private val GapUs = 1800L * 1000000L

  private lazy val events: Array[(Long, Long, Long)] =
    graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  test("q166 equals the engine's own full-recompute sessionization") {
    val inc = SessionState.q166IncrementalSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))
    val full = SessionState.q81SessionizeGaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5)))
    assert(inc.toSeq == full.toSeq,
      s"incremental (${inc.length}) != full (${full.length})")
  }

  test("state is O(users) on the real corpus") {
    val cut = (events.map(_._2).min + events.map(_._2).max) / 2
    val open = events.filter(_._2 < cut).groupBy(_._1).flatMap {
      case (u, es) => val end = es.map(_._2).max
        if (end >= cut - GapUs) Some(u -> end) else None
    }
    assert(open.size <= events.map(_._1).distinct.length)
  }

  test("a boundary-straddling session merges; a gapped one closes " +
      "(synthetic fixture — the sparse real corpus never straddles)") {
    import spark.implicits._
    val min5 = 300L * 1000000L
    // user 1: events every 5 min across the midpoint -> ONE session.
    // user 2: a session ending before cut - gap, another starting
    // after -> must stay TWO sessions. min/max chosen so the
    // data-derived midpoint (min+max)/2 lands mid-stream.
    val base = 1700000000L * 1000000L
    val rows =
      (0 to 12).map(i => (1L, base + i * min5, 100L + i)) ++
        Seq((2L, base, 200L), (2L, base + 12 * min5, 201L))
    withTempDir("graft_sess") { tmp =>
      rows.toDF("user_id", "us", "event_id")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = SessionState.q166IncrementalSessions(spark, tmp.toString)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(5)))
      // user 1: one merged 60-minute 13-event session (it straddles the
      // midpoint, so only the carried-state merge can produce this)
      assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 1, 13L, 3600L)),
        s"merge case: ${got.toSeq}")
      // user 2: two singleton sessions — the 60-min gap spans the cut
      // but exceeds the threshold, so the open state must close as-is
      assert(got.filter(_._1 == 2L).toSeq ==
        Seq((2L, 1, 1L, 0L), (2L, 2, 1L, 0L)), s"close case: ${got.toSeq}")
    }
  }
}
