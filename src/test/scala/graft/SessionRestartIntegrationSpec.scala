package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** VERDICT r08 #7 — the streaming twin of q166's incremental
  * sessionization, driven through a REAL checkpointed restart: the
  * events table is replayed as two file-source chunks split at q166's
  * own boundary (the data-derived midpoint), the `timeoutSessions`
  * mapGroupsWithState query processes chunk 1, STOPS (its open
  * per-user session state lives only in the checkpoint — the
  * streaming analogue of q166's carried O(users) state), then chunk 2
  * lands and the RESTARTED query must merge-or-close across the
  * boundary exactly like the batch operator. Final assertion: the
  * streamed session multiset equals q166's batch output (which the
  * DuckDB oracle already proves equal to the full recompute), so
  * checkpointed-restart streaming == incremental batch == full batch.
  */
class SessionRestartIntegrationSpec extends SparkTestBase {

  private def writeChunk(df: DataFrame, stage: String, name: String): Unit = {
    val tmp = s"$stage/_build_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).head
    Files.move(Paths.get(part), Paths.get(s"$stage/$name.parquet"))
  }

  test("checkpoint-restarted timeoutSessions across q166's boundary " +
      "equals the incremental batch sessionization") {
    withTempDir("graft_sess_it") { tmp =>
      val root = tmp.toString
      val stage = s"$root/in"
      val sink = s"$root/out"
      val ckpt = s"$root/ckpt"
      Files.createDirectories(Paths.get(stage))
      val ev = graft.sources.Tables.events(spark, sf)
        .withColumn("ts_us", unix_micros(col("ts")))
      // the SAME split q166 uses: the data-derived midpoint
      val Seq(minUs, maxUs) = ev.agg(min("ts_us"), max("ts_us"))
        .collect().head.toSeq.map(_.asInstanceOf[Long])
      val cut = (minUs + maxUs) / 2
      // flush sentinel: far enough past the last event that the
      // watermark timeout closes every real open session
      val sentinel = spark.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs) + lit(3L * 3600 * 1000000L)).as("ts"),
        lit(999999L).as("user_id"), lit("zzz_flush").as("event_type"),
        lit(0.0).as("value"), lit(null).cast("string").as("props"))

      def startQuery() =
        Streams.timeoutSessions(
            Streams.eventsStream(spark, stage, maxFilesPerTrigger = Some(1))
              .withWatermark("ts", "0 seconds"))
          .toDF()
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").start()

      // phase 1: everything before the boundary; then the query STOPS —
      // open sessions survive only as checkpointed state
      writeChunk(ev.filter(col("ts_us") < cut).drop("ts_us"), stage, "c0")
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      // phase 2: the rest + the flush sentinel land while the query is
      // down; the restart must resume the open sessions, not re-open
      writeChunk(ev.filter(col("ts_us") >= cut).drop("ts_us"), stage, "c1")
      writeChunk(sentinel, stage, "c2_flush")
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()

      // compare as (user, n_events, duration_ms) multisets — the fields
      // both formulations emit
      // span_ms comes from Timestamp.getTime (per-endpoint ms floor), so
      // the batch side floors each endpoint to ms BEFORE subtracting
      val streamed = spark.read.parquet(sink)
        .filter(col("user_id") =!= 999999L)
        .groupBy("user_id", "n_events", "span_ms")
        .agg(count(lit(1)).as("m"))
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.SessionState
        .q166IncrementalSessions(spark, sf)
        .select(col("user_id"), col("n_events"),
          expr("unix_micros(session_end) div 1000 - " +
            "unix_micros(session_start) div 1000").as("span_ms"))
        .groupBy("user_id", "n_events", "span_ms")
        .agg(count(lit(1)).as("m"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed sessions diverge from incremental batch: " +
          s"streamed=${streamed.size} batch=${batch.size} " +
          s"missing=${(batch -- streamed).take(3)} " +
          s"extra=${(streamed -- batch).take(3)}")
      assert(Files.list(Paths.get(ckpt)).toArray.nonEmpty)
    }
  }
}
