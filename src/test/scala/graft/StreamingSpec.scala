package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Streams

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** True streaming-mode tests (SURVEY.md §2.10): MemoryStream micro-batches
  * through the same transforms the batch oracle queries use, plus
  * watermark late-data and stateful-dedup behavior that only exists in
  * streaming mode. */
class StreamingSpec extends SparkTestBase {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window counts over micro-batches (complete mode)") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:55:00"), 2, "click", 2.0),
        Ev(t("2024-01-01 11:05:00"), 1, "view", 4.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:30:00"), 3, "click", 8.0))
      q.processAllAvailable()
      val rows = sess.table("tumbling_t")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 3L, 11.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("sliding windows assign each event to 4 overlapping windows") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding_t")
      .outputMode("complete").start()
    try {
      input.addData(Ev(t("2024-01-01 10:22:00"), 1, "click", 2.0))
      q.processAllAvailable()
      val starts = sess.table("sliding_t")
        .collect().map(_.getTimestamp(0).toString).sorted.toSeq
      assert(starts == Seq("2024-01-01 09:30:00.0", "2024-01-01 09:45:00.0",
        "2024-01-01 10:00:00.0", "2024-01-01 10:15:00.0"))
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from a static dim") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = Streams.enrichEvents(input.toDF(), dim)
      .select("user_id", "event_type", "tier")
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode("append").start()
    try {
      input.addData(Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        Ev(t("2024-01-01 10:06:00"), 2, "view", 2.0),
        Ev(t("2024-01-01 10:07:00"), 9, "view", 3.0)) // no dim row
      q.processAllAvailable()
      val rows = sess.table("enrich_t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows == Set(
        (1L, "click", "gold"),
        (2L, "view", "basic"),
        (9L, "view", null))) // left-outer keeps unmatched stream rows
    } finally q.stop()
  }

  test("watermark drops late rows beyond horizon (append mode)") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.tumblingCountsStreaming(input.toDF())
      .writeStream.format("memory").queryName("late_t")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:20:00"), 2, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window (+10 min horizon)
      input.addData(Ev(t("2024-01-01 13:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      // this row is hours behind the watermark -> must be dropped
      input.addData(Ev(t("2024-01-01 10:45:00"), 4, "click", 99.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 15:00:00"), 5, "click", 1.0))
      q.processAllAvailable()
      val w10 = sess.table("late_t")
        .filter($"window_start" === t("2024-01-01 10:00:00"))
        .collect()
      assert(w10.length == 1)
      assert(w10(0).getLong(2) == 2L, "late row must not be counted")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups by key across batches") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.dedupStreaming(input.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:01:00"), 1, "click", 2.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:02:00"), 1, "click", 3.0))
      q.processAllAvailable()
      val n = sess.table("dedup_t")
        .filter($"user_id" === 1 && $"event_type" === "click").count()
      assert(n == 1L, "duplicates within watermark horizon must collapse")
    } finally q.stop()
  }

  test("session windows close after gap + watermark (append mode)") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.sessionCountsStreaming(input.toDF())
      .writeStream.format("memory").queryName("session_t")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 11:00:00"), 1, "click", 1.0), // same session (<4h gap)
        Ev(t("2024-01-01 18:00:00"), 1, "click", 1.0)) // new session
      q.processAllAvailable()
      // push watermark far ahead so all sessions close
      input.addData(Ev(t("2024-01-03 00:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-04 00:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val u1 = sess.table("session_t").filter($"user_id" === 1)
        .collect().map(r => (r.getTimestamp(1).toString, r.getLong(2))).toSet
      assert(u1 == Set(("2024-01-01 10:00:00.0", 2L),
                       ("2024-01-01 18:00:00.0", 1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits completed sessions exactly once " +
      "at event-time timeout") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.timeoutSessions(
        input.toDF().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("timeout_sessions_t")
      .outputMode("append").start()
    try {
      // user 1: three events inside one 30-min-gap session
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:10:00"), 1, "view", 2.5))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:20:00"), 1, "click", 0.5))
      q.processAllAvailable()
      // nothing emitted while the session is open
      assert(sess.table("timeout_sessions_t").count() == 0)
      // another user's event pushes the watermark past 10:20 + 30min
      input.addData(Ev(t("2024-01-01 12:00:00"), 2, "click", 9.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 12:00:01"), 2, "click", 1.0))
      q.processAllAvailable()
      val rows = sess.table("timeout_sessions_t").as[Streams.SessionOut]
        .collect().toSet
      assert(rows == Set(
        Streams.SessionOut(1L, 3L, 4.0, 20L * 60 * 1000)),
        s"got $rows")
    } finally q.stop()
  }

  test("timeoutSessions splits on the session gap inside a batch and " +
      "across batches before any timeout fires") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.timeoutSessions(
        input.toDF().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("timeout_split_t")
      .outputMode("append").start()
    try {
      // two events >30min apart land in the SAME micro-batch: the first
      // session must close immediately (session_window would emit two),
      // not merge into one 70-min session
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:10:00"), 1, "view", 2.0),
        Ev(t("2024-01-01 11:20:00"), 1, "click", 4.0))
      q.processAllAvailable()
      val afterBatch1 = sess.table("timeout_split_t")
        .as[Streams.SessionOut].collect().toSet
      assert(afterBatch1 == Set(
        Streams.SessionOut(1L, 2L, 3.0, 10L * 60 * 1000)),
        s"intra-batch gap must close the first session, got $afterBatch1")
      // a LATER batch for the same key, again >30min after the open
      // session's last event: the open session closes on arrival even
      // though only this key's events ever advance the watermark
      input.addData(Ev(t("2024-01-01 13:00:00"), 1, "click", 8.0))
      q.processAllAvailable()
      val afterBatch2 = sess.table("timeout_split_t")
        .as[Streams.SessionOut].collect().toSet
      assert(afterBatch2 == Set(
        Streams.SessionOut(1L, 2L, 3.0, 10L * 60 * 1000),
        Streams.SessionOut(1L, 1L, 4.0, 0L)),
        s"cross-batch gap must close the open session, got $afterBatch2")
    } finally q.stop()
  }

  test("timeoutSessions: an out-of-order event more than the gap BEFORE " +
      "the open session closes alone; one within the gap extends its start") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.timeoutSessions(
        input.toDF().withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName("timeout_late_t")
      .outputMode("append").start()
    try {
      // open session [10:00, 10:10] for user 1
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:10:00"), 1, "view", 2.0))
      q.processAllAvailable()
      // a LATE event at 09:20 — 40 min before the session start, gap is
      // 30 min: session_window semantics demand a SEPARATE session, not
      // a merged [09:20, 10:10] one (the pre-fix behavior)
      input.addData(Ev(t("2024-01-01 09:20:00"), 1, "late", 4.0))
      q.processAllAvailable()
      val afterLate = sess.table("timeout_late_t")
        .as[Streams.SessionOut].collect().toSet
      assert(afterLate == Set(Streams.SessionOut(1L, 1L, 4.0, 0L)),
        s"far-early late event must close alone, got $afterLate")
      // a late event WITHIN the gap of the open session (09:45, 15 min
      // before start) must merge and extend the session start downward:
      // prove it by then closing the session with a >gap later event
      input.addData(Ev(t("2024-01-01 09:45:00"), 1, "late2", 8.0))
      input.addData(Ev(t("2024-01-01 12:00:00"), 1, "click", 16.0))
      q.processAllAvailable()
      val afterMerge = sess.table("timeout_late_t")
        .as[Streams.SessionOut].collect().toSet
      assert(afterMerge == Set(
        Streams.SessionOut(1L, 1L, 4.0, 0L),
        Streams.SessionOut(1L, 3L, 11.0, 25L * 60 * 1000)),
        s"in-gap late event must extend the open session, got $afterMerge")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the 7-day range") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val purchases = MemoryStream[Ev]
    val signups = MemoryStream[Ev]
    val p = purchases.toDF().withWatermark("ts", "1 minute")
      .select($"user_id", $"ts")
    val s = signups.toDF().withWatermark("ts", "1 minute")
      .select($"user_id".as("s_user_id"), $"ts".as("s_ts"))
    val q = Streams.purchaseSignupJoin(p, s)
      .writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    try {
      signups.addData(
        Ev(t("2024-01-10 00:00:00"), 1, "signup", 0.0),  // 5d before: match
        Ev(t("2024-01-01 00:00:00"), 2, "signup", 0.0),  // 14d before: no
        Ev(t("2024-01-16 00:00:00"), 3, "signup", 0.0))  // after: no
      q.processAllAvailable()
      purchases.addData(
        Ev(t("2024-01-15 00:00:00"), 1, "purchase", 9.0),
        Ev(t("2024-01-15 00:00:00"), 2, "purchase", 9.0),
        Ev(t("2024-01-15 00:00:00"), 3, "purchase", 9.0))
      q.processAllAvailable()
      val matches = sess.table("ssj_t").collect()
        .map(r => r.getLong(0)).toSet
      assert(matches == Set(1L), s"only user 1 in range, got $matches")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits null rows at watermark eviction") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val purchases = MemoryStream[Ev]
    val signups = MemoryStream[Ev]
    val p = purchases.toDF().withWatermark("ts", "1 minute")
      .select($"user_id", $"ts")
    val s = signups.toDF().withWatermark("ts", "1 minute")
      .select($"user_id".as("s_user_id"), $"ts".as("s_ts"))
    val q = Streams.purchaseSignupJoinOuter(p, s)
      .writeStream.format("memory").queryName("ssj_outer_t")
      .outputMode("append").start()
    try {
      signups.addData(Ev(t("2024-01-10 00:00:00"), 1, "signup", 0.0))
      purchases.addData(
        Ev(t("2024-01-15 00:00:00"), 1, "purchase", 9.0),  // matched
        Ev(t("2024-01-15 00:00:00"), 2, "purchase", 9.0))  // no signup
      q.processAllAvailable()
      // matched row emits immediately; user 2's null row must NOT have
      // emitted yet — a late signup could still arrive
      val early = sess.table("ssj_outer_t").collect()
      assert(early.map(_.getLong(0)).toSet == Set(1L),
        "null row emitted before the watermark closed the window")
      // advance both watermarks far past user 2's join window
      signups.addData(Ev(t("2024-02-01 00:00:00"), 9, "signup", 0.0))
      purchases.addData(Ev(t("2024-02-01 00:00:00"), 9, "purchase", 9.0))
      q.processAllAvailable()
      q.processAllAvailable() // second batch lets the state store evict
      val rows = sess.table("ssj_outer_t").collect()
        .map(r => (r.getLong(0), r.isNullAt(2))).toSet
      assert(rows.contains((2L, true)),
        s"unmatched purchase never null-emitted: ${rows.mkString(",")}")
      assert(rows.contains((1L, false)))
    } finally q.stop()
  }

  test("foreachBatch sink: custom batch-wise writes see every row once") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = input.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.collect().foreach(r => seen.add((id, r.getLong(1))))
      }
      .start()
    try {
      input.addData(Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:01:00"), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:02:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val users = seen.toArray.map(_.asInstanceOf[(Long, Long)])
      assert(users.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(users.map(_._1).distinct.length == 2, "two micro-batches")
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes exactly-once (file source)") {
    val sess = spark
    import sess.implicits._
    withTempDir("graft_ckpt") { root =>
      val srcDir = root.resolve("src").toString
      val outDir = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      def writeWave(ids: Range): Unit =
        ids.map(i => (t(f"2024-01-01 10:${i % 60}%02d:00"), i.toLong, "click", 1.0))
          .toDF("ts", "user_id", "event_type", "value")
          .repartition(1).write.mode("append").parquet(srcDir)
      def runOnce(): Unit = {
        val stream = sess.readStream
          .schema("ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
          .parquet(srcDir)
        val q = stream.writeStream
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }
      writeWave(1 to 10)
      runOnce()
      writeWave(11 to 15) // second wave lands AFTER the first run finished
      runOnce()           // restart from the same checkpoint
      val out = sess.read.parquet(outDir).select("user_id")
        .collect().map(_.getLong(0)).sorted
      // every row exactly once: wave 1 not re-emitted, wave 2 complete
      assert(out.toSeq == (1L to 15L))
    }
  }

  test("mapGroupsWithState keeps running counts across micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.runningUserCounts(input.toDF())
      .toDF("user_id", "n_events")
      .writeStream.format("memory").queryName("state_t")
      .outputMode("update").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:01:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 10:02:00"), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 11:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // last update per user reflects the accumulated state
      val latest = sess.table("state_t").groupBy($"user_id")
        .agg(org.apache.spark.sql.functions.max($"n_events").as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }
}
