package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Drift, Lifecycle, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 seventeenth batch
  * (q296 lead-time SLA, q297 transitivity audit, q298 Wasserstein
  * drift, q299 decomposition anomalies). */
class Round10rSpec extends SparkTestBase {

  test("q296 lead-time SLA equals a sequential replay and the " +
      "quantiles are ordered") {
    val ship = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("s"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o"))
      .collect().map(r => r.getLong(0) -> r.getDate(1).toLocalDate).toMap
    val lags = ship.map { case (ok, s) =>
      val o = ord(ok)
      (f"${o.getYear}%04d-${o.getMonthValue}%02d",
        java.time.temporal.ChronoUnit.DAYS.between(o, s))
    }
    val got = Lifecycle.q296LeadTimeSla(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      lags.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val ls = lags.filter(_._1 == r.getString(0)).map(_._2)
      assert(r.getLong(1) == ls.length.toLong)
      assert(r.getDouble(2) == rN(ls.sum.toDouble / ls.length, 4))
      assert(r.getDouble(3) == rN(pct(ls, 0.5), 4))
      assert(r.getDouble(4) == rN(pct(ls, 0.9), 4))
      // quantile law (the synthetic generator does ship before order
      // on some lines, so non-negativity is NOT a data invariant here)
      assert(r.getDouble(3) <= r.getDouble(4) + 1e-9)
    }
  }

  test("q297 transitivity audit equals a sequential wedge replay") {
    val pairs = Dedup.q34DedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val jmap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    val adj = (pairs.map(p => p._1 -> (p._2, p._3)) ++
      pairs.map(p => p._2 -> (p._1, p._3)))
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSeq }
    val wedges = adj.toSeq.flatMap { case (_, nbrs) =>
      for (i <- nbrs.indices; j <- nbrs.indices
           if nbrs(i)._1 < nbrs(j)._1)
        yield (math.min(nbrs(i)._2, nbrs(j)._2),
          jmap.getOrElse((nbrs(i)._1, nbrs(j)._1), -1.0))
    }
    val got = Dedup.q297TransitivityAudit(spark, sf).collect()
    assert(got.map(_.getDouble(0)).toSeq == Dedup.TransitivityTaus)
    got.foreach { r =>
      val t = r.getDouble(0)
      val np = pairs.count(_._3 >= t).toLong
      val w = wedges.filter(_._1 >= t)
      val closed = w.count(_._2 >= t).toLong
      assert(r.getLong(1) == np, s"$t pairs")
      assert(r.getLong(2) == w.length.toLong, s"$t wedges")
      assert(r.getLong(3) == closed, s"$t closed")
      assert(r.getLong(4) == w.length - closed)
      if (w.nonEmpty)
        assert(r.getDouble(5) == rN(closed.toDouble / w.length, 6))
      // violations can only shrink coverage, never exceed wedges
      assert(r.getLong(4) >= 0 && r.getLong(4) <= r.getLong(2))
    }
  }

  test("q298 Wasserstein drift equals a sequential CDF-integral " +
      "replay and is bounded by the value range") {
    val ev = Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cut = (ev.map(_._1).min + ev.map(_._1).max) / 2
    val got = Drift.q298WassersteinDrift(spark, sf).collect()
    got.foreach { r =>
      val rows = ev.filter(_._2 == r.getString(0))
      val hist = rows.groupBy(_._3).map { case (c, xs) =>
        (c, xs.count(_._1 < cut).toLong, xs.count(_._1 >= cut).toLong)
      }.toSeq.sortBy(_._1)
      val (nr, nc) = (hist.map(_._2).sum, hist.map(_._3).sum)
      var (cr, cc) = (0L, 0L)
      val terms = hist.zipWithIndex.map { case ((c, r1, c1), i) =>
        cr += r1; cc += c1
        val nxt = if (i + 1 < hist.length) hist(i + 1)._1 else c
        micro(math.abs(cr.toDouble / nr - cc.toDouble / nc) *
          (nxt - c).toDouble)
      }
      assert(r.getLong(1) == nr && r.getLong(2) == nc)
      assert(r.getDouble(3) == rN(terms.sum.toDouble / 1000000d / 100, 6),
        s"${r.getString(0)} w1")
      // W1 is bounded by the support width
      val range = (hist.last._1 - hist.head._1) / 100.0
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= range + 1e-9)
    }
  }

  test("q299 anomalies equal a sequential decomposition replay") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = ev.map(_._2).min
    val daily = ev.groupBy(t => (t._1, java.time.temporal.ChronoUnit
      .DAYS.between(d0, t._2))).map { case (k, xs) =>
      k -> xs.length.toLong }.withDefaultValue(0L)
    val maxDay = ev.map(t => java.time.temporal.ChronoUnit.DAYS
      .between(d0, t._2)).max
    val types = ev.map(_._1).distinct.sorted
    val expect = types.flatMap { tpe =>
      def y(d: Long) = daily((tpe, d))
      val valid = (3L to maxDay - 3).map { d =>
        (d, y(d), y(d) * 7 - (-3 to 3).map(o => y(d + o)).sum, d % 7)
      }
      val sdow = valid.groupBy(_._4).map { case (dow, xs) =>
        dow -> xs.map(_._3).sum.toDouble / (7 * xs.length) }
      val qs = valid.map { case (d, yd, det7, dow) =>
        (d, yd, micro(det7 / 7.0 - sdow(dow))) }
      val n = qs.length
      val s = qs.map(_._3).sum
      val s2 = qs.map(t => BigDecimal(t._3) * BigDecimal(t._3)).sum
      val sigma = math.sqrt(
        (s2.toDouble - s.toDouble * (s.toDouble / n)) / n)
      qs.filter(t => sigma > 0 &&
          math.abs(t._3.toDouble / sigma) > TimeSeries2.AnomalySigma)
        .map(t => (tpe, d0.plusDays(t._1).toString, t._2,
          rN(t._3.toDouble / 1000000d, 4),
          rN(t._3.toDouble / sigma, 4)))
    }
    val got = TimeSeries2.q299DecompositionAnomalies(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq == expect.toSeq, "anomaly list diverged")
    got.foreach(t => assert(math.abs(t._5) > TimeSeries2.AnomalySigma))
  }
}
