package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Lifecycle}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-fourth batch
  * (q323 return trend, q324 discount curve, q325 burstiness, q326
  * streak distribution). */
class Round10ySpec extends SparkTestBase {

  test("q323 return trend equals a sequential replay and shares are " +
      "bounded") {
    val li = Tables.lineitem(spark, sf)
      .select(date_format(col("l_shipdate"), "yyyy-MM"),
        col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = Contribution.q323ReturnTrend(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      li.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val rows = li.filter(_._1 == r.getString(0))
      val ret = rows.filter(_._2 == "R")
      assert(r.getLong(1) == rows.length.toLong)
      assert(r.getLong(2) == ret.length.toLong)
      assert(r.getDouble(3) == rN(ret.length.toDouble / rows.length, 6))
      assert(r.getDouble(4) ==
        rN(ret.map(_._3).sum.toDouble / rows.map(_._3).sum, 6))
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    }
  }

  test("q324 discount curve equals a sequential replay") {
    val li = Tables.lineitem(spark, sf)
      .select(expr("cast(round(l_discount * 100, 0) as bigint)"),
        expr("cast(round(l_quantity, 0) as bigint)"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = Contribution.q324DiscountCurve(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq ==
      li.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val rows = li.filter(_._1 == r.getLong(0))
      assert(r.getLong(1) == rows.length.toLong)
      assert(r.getDouble(2) ==
        rN(rows.map(_._2).sum.toDouble / rows.length, 4))
      assert(r.getDouble(3) == rN(rows.map(_._3).sum.toDouble / 100, 2))
      assert(r.getDouble(4) ==
        rN(rows.map(_._3).sum.toDouble / rows.length / 100, 2))
    }
  }

  test("q325 burstiness equals a sequential replay and lands in " +
      "(-1, 1)") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(t => (t._1, t._2)).toSeq.flatMap { case (_, xs) =>
      val o = xs.sortBy(e => (e._4, e._3))
      o.zip(o.drop(1)).map { case (a, b) => (a._2, b._4 - a._4) }
    }
    val got = Lifecycle.q325Burstiness(spark, sf).collect()
    got.foreach { r =>
      val ds = gaps.filter(_._1 == r.getString(0)).map(_._2)
      val n = ds.length.toLong
      val sd = ds.sum
      val sd2 = ds.map(d => BigDecimal(d) * BigDecimal(d)).sum
      val m = sd.toDouble / n
      val sig = math.sqrt((sd2.toDouble - sd.toDouble * m) / n)
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == rN(m / 1e6, 4))
      assert(r.getDouble(3) == rN(sig / 1e6, 4))
      assert(r.getDouble(4) == rN((sig - m) / (sig + m), 6))
      assert(r.getDouble(4) > -1 && r.getDouble(4) < 1)
    }
  }

  test("q326 streaks equal a sequential islands replay and conserve " +
      "user-days") {
    val userDays = Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).distinct
    val streaks = userDays.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val days = xs.map(_._2).sorted
      // .toSeq BEFORE .map: mapping a Map to (u, len) tuples would
      // dedup all of a user's same-length streaks (the q220 pitfall)
      days.zipWithIndex.groupBy { case (d, i) => d - i }
        .toSeq.map { case (_, run) => (u, run.length.toLong) }
    }
    val got = Lifecycle.q326StreakDistribution(spark, sf).collect()
    val hist = streaks.groupBy(_._2)
    assert(got.map(_.getLong(0)).toSeq == hist.keys.toSeq.sorted)
    got.foreach { r =>
      val xs = hist(r.getLong(0))
      assert(r.getLong(1) == xs.length.toLong)
      assert(r.getLong(2) == xs.map(_._1).distinct.length.toLong)
      assert(r.getDouble(3) ==
        rN(xs.length.toDouble / streaks.length, 6))
    }
    // Σ streak_days · n_streaks = total distinct user-days
    assert(got.map(r => r.getLong(0) * r.getLong(1)).sum ==
      userDays.length.toLong)
  }
}
