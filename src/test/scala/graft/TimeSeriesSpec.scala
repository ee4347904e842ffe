package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.operators.{TimeSeries => T}

/** q154/q155/q156 — the time-series trio pinned against independent
  * sequential Scala recomputes from the raw events, plus the structural
  * laws each estimator must satisfy. */
class TimeSeriesSpec extends SparkTestBase {

  private lazy val raw: Array[(String, LocalDate, Double)] =
    graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2)))

  test("q154 matches an independent integer-weighted decay recompute") {
    val dMax = raw.map(_._2).max(Ordering.by[LocalDate, Long](_.toEpochDay))
    def w6(age: Long): Long = {
      val (q, r) = (age / T.HalfLifeDays, (age % T.HalfLifeDays).toInt)
      if (q >= 20) 0L else T.WeekWeights6(r) >> q
    }
    val expected = raw.groupBy(_._1).view.mapValues { xs =>
      val contribs = xs.map { case (_, d, v) =>
        val cents = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact
        val age = dMax.toEpochDay - d.toEpochDay
        (cents, cents * w6(age))
      }
      (xs.length.toLong, contribs.map(_._1).sum,
        BigDecimal(contribs.map(_._2).sum) / BigDecimal(100000000L))
    }.toMap
    val got = T.q154DecayedEngagement(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == expected.keys.toSeq.sorted)
    got.foreach { r =>
      val (n, cents, dv) = expected(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == cents)
      assert(r.getDouble(3) ==
        dv.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"decayed_value mismatch for ${r.getString(0)}")
    }
  }

  private lazy val daily: Map[String, Seq[(Long, Long)]] =
    raw.groupBy(_._1).view.mapValues { xs =>
      val d0 = raw.map(_._2).min(Ordering.by[LocalDate, Long](_.toEpochDay))
      xs.groupBy(_._2).toSeq
        .map { case (d, es) => (d.toEpochDay - d0.toEpochDay, es.length.toLong) }
        .sortBy(_._1)
    }.toMap

  test("q155 matches a brute-force scan over every candidate split") {
    val got = T.q155ChangePoint(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    daily.foreach { case (tpe, series) =>
      val n = series.length
      val s = series.map(_._2).sum
      val cands = (1 until n).map { t =>
        val sl = series.take(t).map(_._2).sum
        val num = math.abs(sl * (n - t) - (s - sl) * t)
        val den = t.toLong * (n - t)
        (t, num, den, num.toDouble / den)
      }
      val best = cands.maxBy { case (t, _, _, gap) => (gap, -t) }
      val r = got(tpe)
      assert(r.getInt(2) == best._1, s"$tpe split index")
      assert(r.getDouble(6) == r6(best._4), s"$tpe gap")
      // the verdict is the exact integer compare 5·num·n > s·den
      assert(r.getBoolean(7) == (5 * best._2 * n > s * best._3), s"$tpe verdict")
      // law: reported means reproduce the gap the split was chosen by
      val sl = series.take(best._1).map(_._2).sum
      assert(r.getDouble(4) == r6(sl.toDouble / best._1))
      assert(r.getDouble(5) == r6((s - sl).toDouble / (n - best._1)))
    }
  }

  test("q156 matches definitional Pearson ACF on calendar-aligned pairs") {
    val got = T.q156Acf(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    daily.foreach { case (tpe, series) =>
      val byDay = series.toMap
      (1 to T.MaxLag).foreach { k =>
        val pairs = series.flatMap { case (d, x) =>
          byDay.get(d + k).map(y => (x.toDouble, y.toDouble))
        }
        val n = pairs.length
        val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
        val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
        val sx = math.sqrt(pairs.map(p => math.pow(p._1 - mx, 2)).sum)
        val sy = math.sqrt(pairs.map(p => math.pow(p._2 - my, 2)).sum)
        val (acf, np) = got((tpe, k))
        assert(np == n.toLong, s"$tpe lag $k pair count")
        // the engines' one-pass co-moment corr (whose Spark↔DuckDB
        // parity the ORACLE pins exactly) vs this two-pass textbook
        // recompute: different summation orders, so compare within a
        // small analytic band, not to the ulp
        assert(math.abs(acf - cov / (sx * sy)) < 5e-6, s"$tpe lag $k acf")
      }
    }
  }

  test("q154 weight table: pinned values halve exactly across weeks") {
    // dyadic halving law: w6(age + 7) == w6(age) >> 1, and the pinned
    // within-week constants are strictly decreasing from the millionth
    assert(T.WeekWeights6.head == 1000000L)
    assert(T.WeekWeights6 == T.WeekWeights6.sorted(Ordering[Long].reverse))
    val w6 = (age: Long) =>
      if (age / 7 >= 20) 0L else T.WeekWeights6((age % 7).toInt) >> (age / 7)
    (0L to 140L).foreach(a => assert(w6(a + 7) == w6(a) >> 1))
    assert(w6(140) == 0L)
  }
}
