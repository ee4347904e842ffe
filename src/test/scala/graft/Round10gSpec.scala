package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Evaluation, Experiment, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 seventh batch (q252
  * CUSUM, q253 rate change, q254 median stability). q252's replay runs
  * the textbook RECURSION S_t = max(0, S_{t−1} + term), so agreement
  * proves the query's closed form (prefix − running min) realizes it
  * exactly. */
class Round10gSpec extends SparkTestBase {

  test("q252 CUSUM closed form equals the textbook recursion and the " +
      "statistic is never negative") {
    val out = TimeSeries2.q252Cusum(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min
    val daily = evs.groupBy(e => (e._1,
      java.time.temporal.ChronoUnit.DAYS.between(d0, e._2)))
      .map { case (k, v) => k -> v.size.toLong }
    val allDays = daily.keys.map(_._2).toSeq
    val mid = (allDays.min + allDays.max) / 2
    daily.keys.map(_._1).toSeq.distinct.foreach { t =>
      val series = daily.filter(_._1._1 == t).toSeq
        .map { case ((_, d), n) => (d, n) }.sortBy(_._1)
      val firstHalf = series.filter(_._1 <= mid)
      val mu = BigDecimal(firstHalf.map(_._2).sum * 1e6 /
        firstHalf.length).setScale(0, BigDecimal.RoundingMode.HALF_UP)
        .toLong
      val k = mu / 4
      val h = mu * 2
      var s = 0L
      series.foreach { case (d, n) =>
        s = math.max(0L, s + (n * 1000000L - mu - k))
        assert(out((t, d.toInt)) == ((n, s, s > h)),
          s"cell ($t, $d) diverged")
        assert(s >= 0L)
      }
    }
  }

  test("q253 rate-change test equals a sequential recompute") {
    val out = Experiment.q253RateChange(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)),
        (r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts"))).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val t0 = evs.map(_._2).min
    val t1 = evs.map(_._2).max
    val cut = (t0 + t1) / 2
    val p0 = (cut - t0).toDouble / ((cut - t0) + (t1 - cut + 1)).toDouble
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val c1 = rows.count(_._2 < cut).toLong
      val c2 = rows.count(_._2 >= cut).toLong
      val n = c1 + c2
      val z = (c1.toDouble - n.toDouble * p0) /
        math.sqrt(n.toDouble * p0 * (1.0 - p0))
      val verdict =
        if (math.abs(z) > 1.96) "rate_changed" else "rate_stable"
      assert(out(t) == (((c1, c2),
        (r2(n.toDouble * p0), r6(z), verdict))), s"type $t diverged")
    }
  }

  test("q254 median stability equals a sequential bit-membership " +
      "replay with type-7 medians") {
    val out = Evaluation.q254MedianStability(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3)), (r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7)))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val medFull = pct(rows.map(_._3.toDouble), 0.5)
      val reps = (0 until Evaluation.StabilityReps).flatMap { b =>
        val sub = rows.filter(r =>
          ((Hashing.md5Hash60Value(s"mboot:${r._2}") >> b) & 1L) == 1L)
        if (sub.nonEmpty) Some(pct(sub.map(_._3.toDouble), 0.5)) else None
      }
      val within = reps.count(m =>
        math.abs(m - medFull) <= math.abs(medFull) * 0.01).toLong
      assert(out(t) == (((rows.length.toLong, r4(medFull / 100.0),
        reps.length.toLong), (r4(reps.min / 100.0), r4(reps.max / 100.0),
        r4((reps.max - reps.min) / 100.0), within))),
        s"type $t diverged")
      assert(reps.max >= reps.min && within <= reps.length)
    }
  }
}
