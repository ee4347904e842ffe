package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries
import graft.streaming.Streams

/** Streaming twin of the q382 changepoint's input profile (the
  * q375/q380 twin playbook): the same events fed ONE CALENDAR DAY PER
  * MICRO-BATCH through `mapGroupsWithState` must hold per-(type, day)
  * running counts BIT-EXACTLY equal to the batch daily-count profile
  * after every batch, and the gain argmax read off the FINAL state
  * must reproduce the registered q382 rows (split day, means, gain) —
  * proving the batch changepoint is incrementally maintainable: the
  * corpus fold is the state; the argmax is a profile-sized recompute. */
class StreamingChangepointSpec extends SparkTestBase {

  test("mapGroupsWithState daily-count state equals the batch profile " +
      "per batch and the final-state argmax reproduces q382") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        to_date(col("ts")).cast("string").as("day"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val byDay = rows.groupBy(_._2).toSeq.sortBy(_._1)

    val input = MemoryStream[(String, String)]
    val q = Streams.runningDailyCounts(
        input.toDF().toDF("event_type", "day"))
      .toDF("event_type", "day", "n")
      .writeStream.format("memory").queryName("cpt_t")
      .outputMode("update").start()
    try {
      val state = scala.collection.mutable.Map.empty[(String, String), Long]
      byDay.foreach { case (day, dayRows) =>
        input.addData(dayRows.toIndexedSeq)
        q.processAllAvailable()
        sess.table("cpt_t").collect().foreach { r =>
          val k = (r.getString(0), r.getString(1))
          state(k) = math.max(state.getOrElse(k, 0L), r.getLong(2))
        }
        // prefix parity: state == the batch profile over days <= day
        val expect = rows.filter(_._2 <= day)
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
        assert(state.toMap == expect, s"state parity after $day")
      }
      // final-state argmax == the registered q382 rows
      val got = TimeSeries.q382Changepoint(spark, sf).collect()
      val byType = state.toSeq.groupBy(_._1._1).view
        .mapValues(_.sortBy(_._1._2).map(_._2)).toMap
      assert(got.length == byType.size)
      got.foreach { r =>
        val tpe = r.getString(0)
        val xs = byType(tpe)
        val n = xs.length
        val s = xs.sum
        // relative-gain argmax (gain/SSE_total) — mirrors the
        // registered q382 (round 14, ADVICE r13 bounded argmax)
        val sse = xs.map(x => BigInt(x) * x).sum.toDouble -
          s.toDouble * s / n
        val gains = (1 until n).map { k =>
          val sl = xs.take(k).sum
          val g = sl.toDouble * sl / k +
            (s - sl).toDouble * (s - sl) / (n - k) - s.toDouble * s / n
          (k, if (sse > 0) math.round(g / sse * 1e6) else 0L, g)
        }
        val (bestK, _, bestG) =
          gains.minBy { case (k, gu, _) => (-gu, k) }
        val days = state.keys.filter(_._1 == tpe).map(_._2).toSeq.sorted
        assert(r.getLong(1) == n, s"$tpe n_days")
        assert(r.getDate(2).toString == days(bestK - 1), s"$tpe split")
        assert(math.abs(r.getDouble(5) - bestG) < 1e-6, s"$tpe gain")
      }
      // DEPTH-2 read-off (VERDICT r13 #8): the level-2 recursion of
      // q388 is ALSO a pure function of the same per-(type, day)
      // count state — no second corpus pass, no extra streaming state.
      // Replaying it over the final state must reproduce the
      // registered q388 rows (both split days, all three segment
      // means, both gains), proving the two-level segmentation is
      // incrementally maintainable end-to-end.
      val got2 = TimeSeries.q388Changepoint2(spark, sf).collect()
      assert(got2.length ==
        byType.count(_._2.length > 2), "q388 row count")
      got2.foreach { r =>
        val tpe = r.getString(0)
        val xs = byType(tpe)
        val n = xs.length
        val s = xs.sum
        val sse = xs.map(x => BigInt(x) * x).sum.toDouble -
          s.toDouble * s / n
        def gainD(lo: Int, hi: Int, k: Int): Double = {
          val seg = xs.slice(lo, hi)
          val st = seg.sum
          val sl = seg.take(k).sum
          sl.toDouble * sl / k +
            (st - sl).toDouble * (st - sl) / (seg.length - k) -
            st.toDouble * st / seg.length
        }
        def rel(g: Double): Long =
          if (sse > 0) math.round(g / sse * 1e6) else 0L
        val days = state.keys.filter(_._1 == tpe).map(_._2).toSeq.sorted
        val (b, _, bestG1) = (1 until n)
          .map(k => (k, rel(gainD(0, n, k)), gainD(0, n, k)))
          .minBy { case (k, gu, _) => (-gu, k) }
        val (k2g, _, bestG2) = (1 until n).filter(_ != b).map { k =>
          val g = if (k < b) gainD(0, b, k) else gainD(b, n, k - b)
          (k, rel(g), g)
        }.minBy { case (k, gu, _) => (-gu, days(k - 1)) }
        val (k1, k2) = (math.min(b, k2g), math.max(b, k2g))
        assert(r.getDate(2).toString == days(k1 - 1), s"$tpe split_day_1")
        assert(r.getDate(3).toString == days(k2 - 1), s"$tpe split_day_2")
        val (c1, c2) = (xs.take(k1).sum, xs.take(k2).sum)
        assert(math.abs(r.getDouble(4) - c1.toDouble / k1) < 1e-6)
        assert(math.abs(r.getDouble(5) -
          (c2 - c1).toDouble / (k2 - k1)) < 1e-6)
        assert(math.abs(r.getDouble(6) -
          (s - c2).toDouble / (n - k2)) < 1e-6)
        assert(math.abs(r.getDouble(7) - bestG1) < 1e-6, s"$tpe gain1")
        assert(math.abs(r.getDouble(8) - bestG2) < 1e-6, s"$tpe gain2")
      }
    } finally q.stop()
  }
}
