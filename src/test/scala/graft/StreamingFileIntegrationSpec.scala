package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** VERDICT r04 #8 — a REAL StreamingQuery lifecycle over the file
  * source: the events table is replayed as arriving parquet files
  * (one file per micro-batch via maxFilesPerTrigger), the windowed
  * aggregation runs with its production watermark into a CHECKPOINTED
  * parquet sink, the query is stopped mid-stream and restarted from
  * the checkpoint, and the final sink contents must equal the
  * registered batch query (q44) row-for-row.
  *
  * Chunks are time-ordered (quartiles of ts), matching a real ingest
  * where files arrive roughly in event order, so the 10-minute
  * watermark drops nothing; a far-future flush sentinel closes the
  * last real windows (append mode only emits a window once the
  * watermark passes it). */
class StreamingFileIntegrationSpec extends SparkTestBase {

  private def writeChunk(df: DataFrame, stage: String, name: String): Unit = {
    val tmp = s"$stage/_build_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
    Files.move(Paths.get(part), Paths.get(s"$stage/$name.parquet"))
  }

  test("file-source stream with checkpointed sink + restart equals the " +
      "batch tumbling-window result") {
    withTempDir("graft_stream_it") { tmp =>
      val root = tmp.toString
      val stage = s"$root/in"
      val sink = s"$root/out"
      val ckpt = s"$root/ckpt"
      Files.createDirectories(Paths.get(stage))
      // normalized events (Tables.events sniffs the physical encoding);
      // chunks are re-written with a logical timestamp ts, so the file
      // source's own sniffer resolves them the same way
      val ev = graft.sources.Tables.events(spark, sf)
        .withColumn("ts_us", unix_micros(col("ts")))
      val Array(q1, q2, q3) = ev.stat.approxQuantile("ts_us",
        Array(0.25, 0.5, 0.75), 0.0)
      val chunks = Seq(
        ev.filter(col("ts_us") <= q1),
        ev.filter(col("ts_us") > q1 && col("ts_us") <= q2),
        ev.filter(col("ts_us") > q2 && col("ts_us") <= q3),
        ev.filter(col("ts_us") > q3)).map(_.drop("ts_us"))
      // flush sentinel: 3 hours past the last event, so the watermark
      // passes every real 1-hour window once it is processed
      val maxUs = ev.agg(max("ts_us")).collect().head.getLong(0)
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs) + lit(3L * 3600 * 1000000L)).as("ts"),
        lit(999999L).as("user_id"), lit("zzz_flush").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))

      def startQuery() =
        Streams.tumblingCountsStreaming(
            Streams.eventsStream(spark, stage, maxFilesPerTrigger = Some(1)))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // phase 1: first half of the stream arrives, query runs, then STOPS
      writeChunk(chunks(0), stage, "chunk0")
      writeChunk(chunks(1), stage, "chunk1")
      val q1st = startQuery()
      try q1st.processAllAvailable() finally q1st.stop()
      // phase 2: rest of the stream lands while the query is DOWN; the
      // restarted query resumes from the checkpoint, not from scratch
      writeChunk(chunks(2), stage, "chunk2")
      writeChunk(chunks(3), stage, "chunk3")
      writeChunk(sentinel, stage, "chunk4_flush")
      val q2nd = startQuery()
      try q2nd.processAllAvailable() finally q2nd.stop()

      val streamed = spark.read.parquet(sink)
        .filter(col("event_type") =!= "zzz_flush")
        .select("window_start", "event_type", "n_events", "total_value")
        .collect().map(_.toSeq).toSet
      val batch = Streams.q44TumblingWindow(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streaming result diverges from batch: streamed=${streamed.size} " +
          s"rows, batch=${batch.size} rows; " +
          s"missing=${(batch -- streamed).take(3)} " +
          s"extra=${(streamed -- batch).take(3)}")
      // the lifecycle really went through a checkpointed restart
      assert(Files.list(Paths.get(ckpt)).toArray.nonEmpty)
    }
  }

  test("file-source stream-stream interval join (q71/q109 semantics): " +
      "watermark-evicted outer rows make the streamed set equal batch") {
    withTempDir("graft_stream_ij") { tmp =>
      val root = tmp.toString
      val stage = s"$root/in"
      Files.createDirectories(Paths.get(stage))
      val ev = graft.sources.Tables.events(spark, sf)
        .withColumn("ts_us", unix_micros(col("ts")))
      val Array(m1, m2) = ev.stat.approxQuantile("ts_us", Array(0.33, 0.66), 0.0)
      Seq(ev.filter(col("ts_us") <= m1),
          ev.filter(col("ts_us") > m1 && col("ts_us") <= m2),
          ev.filter(col("ts_us") > m2))
        .map(_.drop("ts_us"))
        .zipWithIndex.foreach { case (c, i) => writeChunk(c, stage, s"ij$i") }
      // flush sentinel far past every purchase's join window: the LEFT
      // OUTER null-extended rows only emit once the watermark passes the
      // window end — without eviction they never appear in the sink.
      // Written only AFTER the real chunks are fully processed (below):
      // if it landed in the FIRST micro-batch (possible under coarse
      // file-mtime granularity) it would advance the watermark 10 days
      // and every real row would be dropped as late.
      val maxUs = ev.agg(max("ts_us")).collect().head.getLong(0)
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs) + lit(10L * 24 * 3600 * 1000000L)).as("ts"),
        lit(999999L).as("user_id"), lit("zzz_flush").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))
      // watermark BEFORE the event-type filter: the sentinel advances both
      // sides' watermarks even though it joins nothing
      def side(renamed: Boolean) = {
        val s = Streams.eventsStream(spark, stage, maxFilesPerTrigger = Some(2))
          .withWatermark("ts", "10 minutes")
        if (renamed) // the watermark tag survives the rename (s_ts carries it)
          s.filter(col("event_type") === "signup")
            .select(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
        else s.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
      }
      val q = Streams.purchaseSignupJoinOuter(side(false), side(true))
        .writeStream.format("memory").queryName("ij_sink")
        .outputMode("append").start()
      try {
        q.processAllAvailable() // all real chunks first
        writeChunk(sentinel, stage, "ij3_flush")
        q.processAllAvailable() // sentinel advances watermark -> eviction
      } finally q.stop()
      val streamed = spark.table("ij_sink")
        .select(col("user_id"), col("ts"), col("s_ts"))
        .collect().map(_.toSeq).toSet
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val s = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user_id"), col("ts").as("s_ts"))
      val batch = Streams.purchaseSignupJoinOuter(p, s)
        .select(col("user_id"), col("ts"), col("s_ts"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"interval-join stream diverges from batch: streamed=${streamed.size} " +
          s"batch=${batch.size} missing=${(batch -- streamed).take(3)} " +
          s"extra=${(streamed -- batch).take(3)}")
      // the watermark-eviction path demonstrably ran: zero-match purchases
      // exist and their null-extended rows are IN the streamed set
      assert(streamed.exists(_.last == null),
        "expected watermark-evicted null-extended outer rows")
    }
  }

  test("eventsStream bootstraps on an EMPTY directory (query starts " +
      "before the first file lands) and processes files that arrive later") {
    withTempDir("graft_stream_boot") { tmp =>
      val root = tmp.toString
      val stage = s"$root/in"
      Files.createDirectories(Paths.get(stage))
      // no files yet: the decoder cannot sniff and must default to the
      // logical-timestamp encoding instead of crashing at construction
      val q = Streams.eventsStream(spark, stage)
        .groupBy("event_type").count()
        .writeStream.format("memory").queryName("boot_sink")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        assert(spark.table("boot_sink").count() == 0)
        writeChunk(graft.sources.Tables.events(spark, sf).limit(200),
          stage, "late_arrival")
        q.processAllAvailable()
        assert(spark.table("boot_sink").agg(sum("count")).collect()
          .head.getLong(0) == 200L)
      } finally q.stop()
    }
  }

  test("foreachBatch upsert sink: streamed merge equals batch groupBy, " +
      "survives restart, and ignores replayed epochs") {
    withTempDir("graft_stream_up") { tmp =>
      val root = tmp.toString
      val stage = s"$root/in"
      val sink = s"$root/state"
      val ckpt = s"$root/ckpt"
      Files.createDirectories(Paths.get(stage))
      val raw = graft.sources.Tables.events(spark, sf)
        .withColumn("ts_us", unix_micros(col("ts")))
      val Array(q1, q2) = raw.stat.approxQuantile("ts_us", Array(0.3, 0.6), 0.0)
      def startQuery() =
        Streams.eventsStream(spark, stage, maxFilesPerTrigger = Some(1))
          .writeStream
          .foreachBatch(Streams.upsertBatch(sink) _)
          .option("checkpointLocation", ckpt)
          .start()
      // phase 1: two files, run, stop
      writeChunk(raw.filter(col("ts_us") <= q1).drop("ts_us"), stage, "c0")
      writeChunk(raw.filter(col("ts_us") > q1 && col("ts_us") <= q2)
        .drop("ts_us"), stage, "c1")
      val first = startQuery()
      try first.processAllAvailable() finally first.stop()
      // phase 2: last file lands while down; restart resumes from ckpt
      writeChunk(raw.filter(col("ts_us") > q2).drop("ts_us"), stage, "c2")
      val second = startQuery()
      try second.processAllAvailable() finally second.stop()
      def state(): Set[Seq[Any]] =
        Streams.upsertState(spark, sink)
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("tv"))
          .collect().map(_.toSeq).toSet
      val expected = graft.sources.Tables.events(spark, sf)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("tv"))
        .collect().map(_.toSeq).toSet
      val afterStream = state()
      assert(afterStream == expected,
        s"upsert state diverges from batch groupBy: " +
          s"missing=${(expected -- afterStream).take(3)} " +
          s"extra=${(afterStream -- expected).take(3)}")
      // replay an ALREADY-COMMITTED epoch directly: the sink must detect
      // batchId <= committed and change nothing (exactly-once on top of
      // at-least-once delivery)
      Streams.upsertBatch(sink)(
        graft.sources.Tables.events(spark, sf).limit(50), 0L)
      assert(state() == expected, "replayed epoch must be a no-op")
      // crash artifact: a stray _commit.tmp (crash between temp write and
      // atomic rename) must neither corrupt the committed pointer nor
      // block the next batch — and the interrupted epoch, re-delivered,
      // must now apply exactly once
      Files.writeString(Paths.get(sink, "_commit.tmp"), "999,999")
      assert(state() == expected,
        "a stray temp file must not affect the committed state")
      val extra = graft.sources.Tables.events(spark, sf).limit(100)
      Streams.upsertBatch(sink)(extra, 1000L)
      val merged = state()
      assert(merged != expected, "new epoch must apply")
      val extraAgg = extra.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val before = expected.map(s =>
        s.head.asInstanceOf[Long] -> s).toMap
      merged.foreach { s =>
        val (uid, n) = (s.head.asInstanceOf[Long], s(1).asInstanceOf[Long])
        val baseN = before.get(uid).map(_(1).asInstanceOf[Long]).getOrElse(0L)
        assert(n == baseN + extraAgg.get(uid).map(_._1).getOrElse(0L),
          s"user $uid count must be base + exactly one delta application")
      }
    }
  }

  test("upsert sink GC keeps only the committed version, whatever " +
      "orphan versions a crash left behind") {
    withTempDir("graft_upsert_gc") { sink =>
      val ev = graft.sources.Tables.events(spark, sf).limit(100)
      Streams.upsertBatch(sink.toString)(ev, 0L)
      // orphans: versions no pointer names, as a run that crashed after
      // writing them (before its pointer flip) leaves behind; v0 is the
      // version the next batch supersedes
      Seq("v5", "v12", "v1000").foreach { v =>
        Files.createDirectories(sink.resolve(v))
        Files.writeString(sink.resolve(s"$v/part-0.parquet"), "orphan")
      }
      Streams.upsertBatch(sink.toString)(ev, 1L)
      val left = Files.list(sink).toArray.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).toSet
      assert(left == Set("_commit", "v1"), s"sink holds $left")
      assert(Streams.upsertState(spark, sink.toString)
        .agg(sum("n_events")).collect().head.getLong(0) == 200L)
    }
  }
}
