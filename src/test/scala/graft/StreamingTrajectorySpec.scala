package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SketchAlgebra
import graft.streaming.Streams

/** Streaming twin of the q380 day-prefix quantile trajectory (VERDICT
  * r12 #5): the same events fed ONE CALENDAR DAY PER MICRO-BATCH
  * through `mapGroupsWithState` must, after each batch, hold per-bucket
  * running counts BIT-EXACTLY equal to that day's row of q380's
  * prefix-merged histogram, and the q373 ceil-rank p95 read-off from
  * that state must reproduce the registered q380 output row for row
  * (day, n_cum, bucket, est cents). */
class StreamingTrajectorySpec extends SparkTestBase {

  test("mapGroupsWithState day-prefix trajectory state equals the " +
      "batch prefix-merge and reproduces q380's p95 rows") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // (day, cents) rows, grouped by day in ascending day order — the
    // arrival order a daily ingest actually has
    val rows = graft.sources.Tables.events(spark, sf)
      .select(to_date(col("ts")).cast("string").as("day"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byDay = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val q380 = SketchAlgebra.q380QuantileTrajectory(spark, sf).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(q380.keySet == byDay.map(_._1).toSet,
      "q380 must emit exactly one row per observed day")

    val input = MemoryStream[Long]
    val q = Streams.runningDdTrajectory(
        input.toDF().toDF("cents"))
      .toDF("bucket", "cum")
      .writeStream.format("memory").queryName("ddtraj_t")
      .outputMode("update").start()
    try {
      val state = scala.collection.mutable.Map.empty[Int, Long]
      byDay.foreach { case (day, dayRows) =>
        input.addData(dayRows.map(_._2).toIndexedSeq)
        q.processAllAvailable()
        // fold this batch's emissions into the reconstructed state:
        // cum is monotone per bucket, so the max seen so far IS the
        // latest state value
        sess.table("ddtraj_t").collect().foreach { r =>
          val (b, c) = (r.getInt(0), r.getLong(1))
          state(b) = math.max(state.getOrElse(b, 0L), c)
        }
        // day d's merged histogram == the running state right now
        val n = state.values.sum
        val target = (SketchAlgebra.TrajPerMille * n + 999) / 1000
        var cum = 0L
        val bucket = state.keys.toSeq.sorted.find { b =>
          cum += state(b); cum >= target
        }.get
        val (expN, expBucket, expCents) = q380(day)
        assert(n == expN, s"$day n_cum")
        assert(bucket == expBucket, s"$day p95 bucket")
        assert(SketchAlgebra.DdMids(bucket) == expCents, s"$day p95 cents")
      }
    } finally q.stop()
  }
}
