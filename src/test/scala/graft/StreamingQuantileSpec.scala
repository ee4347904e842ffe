package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SketchAlgebra
import graft.streaming.Streams

/** Streaming twin of the q375 DDSketch quantile histogram (VERDICT
  * r11 stretch #8): the same event stream fed through
  * `mapGroupsWithState` in three micro-batches must end in per-type
  * bucket-count state BIT-EXACTLY equal to the batch sketch (exact
  * integer bucketing under the shared pinned ladder), and the
  * quantile read-off from that state must equal the registered q375
  * estimates row for row. */
class StreamingQuantileSpec extends SparkTestBase {

  case class VRow(event_type: String, cents: Long)

  test("mapGroupsWithState running DDSketch state equals the batch " +
      "histogram and reproduces q375's quantile estimates") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect().map(r => VRow(r.getString(0), r.getLong(1)))
    // independent batch histogram: plain Scala count of boundaries < c
    val expCounts: Map[String, Seq[Long]] = events.groupBy(_.event_type)
      .map { case (t, rows) =>
        val counts = Array.fill(SketchAlgebra.DdBounds.length + 1)(0L)
        rows.foreach { r =>
          counts(SketchAlgebra.DdBounds.count(_ < r.cents)) += 1L
        }
        t -> counts.toSeq
      }
    val input = MemoryStream[VRow]
    val q = Streams.runningDdsketch(input.toDF())
      .toDF("event_type", "counts")
      .writeStream.format("memory").queryName("dds_t")
      .outputMode("update").start()
    try {
      val third = events.length / 3
      input.addData(events.take(third).toIndexedSeq)
      q.processAllAvailable()
      input.addData(events.slice(third, 2 * third).toIndexedSeq)
      q.processAllAvailable()
      input.addData(events.drop(2 * third).toIndexedSeq)
      q.processAllAvailable()
      // last emitted state per type = the update with the largest
      // total count (counts only ever grow)
      val streamed = sess.table("dds_t")
        .select(col("event_type"), col("counts"),
          expr("aggregate(counts, 0L, (a, x) -> a + x)").as("tot"))
        .collect()
        .groupBy(_.getString(0)).map { case (t, rows) =>
          t -> rows.maxBy(_.getLong(2)).getSeq[Long](1).toSeq
        }
      assert(streamed.keySet == expCounts.keySet)
      expCounts.foreach { case (t, exp) =>
        assert(streamed(t) == exp, s"type $t state diverged")
      }
      // quantile read-off from the final state == registered q375
      val q375 = SketchAlgebra.q375DdsketchQuantiles(spark, sf).collect()
      q375.foreach { r =>
        val (t, pm) = (r.getString(0), r.getInt(1))
        val counts = streamed(t)
        val n = counts.sum
        val target = (pm.toLong * n + 999) / 1000
        var cum = 0L
        val bucket = counts.indices.find { i =>
          cum += counts(i); cum >= target
        }.get
        assert(bucket == r.getInt(2), s"$t p$pm bucket")
        assert(SketchAlgebra.DdMids(bucket) == r.getLong(3),
          s"$t p$pm estimate")
      }
    } finally q.stop()
  }
}
