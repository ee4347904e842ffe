package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, InfoTheory, Lifecycle, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-third batch
  * (q319 markup audit, q320 watermark sweep, q321 Markov backtest,
  * q322 load profile). */
class Round10xSpec extends SparkTestBase {

  test("q319 markup audit equals a sequential replay") {
    val retail = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_retailprice").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val mus = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_extendedprice", "l_quantity").collect()
      .map { r =>
        val (brand, rp) = retail(r.getLong(0))
        (brand, BigDecimal((r.getDouble(1) / (r.getDouble(2) * rp) - 1.0)
          * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
    val got = Contribution.q319MarkupAudit(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      mus.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val vs = mus.filter(_._1 == r.getString(0)).map(_._2)
      assert(r.getLong(1) == vs.length.toLong)
      assert(r.getDouble(2) == rN(pct(vs, 0.5) / 1e6, 6))
      assert(r.getDouble(3) ==
        rN(vs.count(_ < 0).toDouble / vs.length, 6))
    }
  }

  test("q320 watermark sweep equals a sequential running-max replay " +
      "and drop rates are monotone in the delay") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lateByType = ev.groupBy(_._1).map { case (t, xs) =>
      var mx = Long.MinValue
      t -> xs.sortBy(_._2).map { e =>
        mx = math.max(mx, e._3); mx - e._3
      }
    }
    val got = Lifecycle.q320WatermarkSweep(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(1), r.getLong(3),
        r.getDouble(4)))
    got.foreach { case (t, d, n, dropped, rate) =>
      val lates = lateByType(t)
      assert(n == lates.length.toLong)
      val exp = lates.count(_ > d * 1000000L).toLong
      assert(dropped == exp, s"$t@$d")
      assert(rate == rN(exp.toDouble / lates.length, 6))
    }
    // tightening the delay can only drop MORE
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byDelay = rows.sortBy(_._2).map(_._4)
      assert(byDelay.zip(byDelay.drop(1)).forall { case (a, b) => a >= b })
    }
  }

  test("q321 Markov backtest equals a sequential train/test replay") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val cut = (ev.map(_._4).min + ev.map(_._4).max) / 2
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val o = xs.sortBy(e => (e._4, e._2))
      o.zip(o.drop(1)).map { case (a, b) => (a._3, b._3, b._4 >= cut) }
    }
    val train = trans.filter(!_._3)
    val pred = train.groupBy(_._1).map { case (p, xs) =>
      p -> xs.groupBy(_._2).map { case (nx, ys) => (nx, ys.size) }
        .toSeq.sortBy(t => (-t._2, t._1)).head._1
    }
    val base = train.groupBy(_._2).map { case (nx, xs) => (nx, xs.size) }
      .toSeq.sortBy(t => (-t._2, t._1)).head._1
    val got = InfoTheory.q321MarkovBacktest(spark, sf).collect()
    got.foreach { r =>
      val p = r.getString(0)
      val test = trans.filter(t => t._3 && t._1 == p)
      assert(r.getString(1) == pred(p), s"$p pred")
      assert(r.getLong(2) == test.length.toLong)
      val nc = test.count(_._2 == pred(p)).toLong
      val nb = test.count(_._2 == base).toLong
      assert(r.getDouble(3) == rN(nc.toDouble / test.length, 6))
      assert(r.getDouble(4) == rN(nb.toDouble / test.length, 6))
      assert(r.getBoolean(5) == (nc >= nb))
    }
  }

  test("q322 load profile equals a sequential replay and the peak " +
      "bounds the mean") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), hour(col("ts")).as("h")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val got = TimeSeries2.q322LoadProfile(spark, sf).collect()
    got.foreach { r =>
      val xs = ev.filter(_._1 == r.getString(0))
      val hist = xs.groupBy(_._2).map { case (h, ys) =>
        (h, ys.length.toLong) }.toSeq
      val (ph, pn) = hist.sortBy(t => (-t._2, t._1)).head
      assert(r.getLong(1) == xs.length.toLong)
      assert(r.getInt(2) == ph && r.getLong(3) == pn)
      assert(r.getDouble(4) == rN(pn.toDouble / xs.length, 6))
      assert(r.getDouble(5) == rN(pn.toDouble * 24 / xs.length, 4))
      // the peak is at least the 24-slot mean
      assert(r.getDouble(5) >= 1.0 - 1e-9)
    }
  }
}
