package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Experiment, Graph3, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 sixteenth batch
  * (q292 brand homophily, q293 Brown forecast backtest, q294
  * seasonal/trend strength, q295 winsorized Welch). */
class Round10qSpec extends SparkTestBase {

  /** (event_type, dayIdx, count) daily profile from raw events. */
  private def dailyCounts(): Seq[(String, Long, Long)] = {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = ev.map(_._2).min
    ev.groupBy(t => (t._1, java.time.temporal.ChronoUnit.DAYS
      .between(d0, t._2))).toSeq
      .map { case ((tpe, day), xs) => (tpe, day, xs.length.toLong) }
  }

  test("q292 homophily equals a sequential mixing-matrix replay") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val brand = Tables.part(spark, sf).select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val nEdges = edges.length.toLong
    val same = edges.count(e => brand(e._1) == brand(e._2)).toLong
    val degb = (edges.map(e => brand(e._1)) ++ edges.map(e => brand(e._2)))
      .groupBy(identity).map(_._2.size.toLong)
    val sumd2 = degb.map(d => BigDecimal(d) * BigDecimal(d)).sum
    val eii = same.toDouble / nEdges
    val chance = sumd2.toDouble / ((2.0 * nEdges) * (2.0 * nEdges))
    val r = Graph3.q292BrandHomophily(spark, sf).collect().head
    assert(r.getLong(0) == nEdges && r.getLong(1) == degb.size.toLong)
    assert(r.getLong(2) == same)
    assert(r.getDouble(3) == rN(eii, 6))
    assert(r.getDouble(4) == rN(chance, 6))
    assert(r.getDouble(5) == rN((eii - chance) / (1.0 - chance), 6))
    assert(r.getDouble(5) >= -1.0 - 1e-9 && r.getDouble(5) <= 1.0 + 1e-9)
  }

  test("q293 Brown backtest equals a sequential convolution replay") {
    val daily = dailyCounts()
    val byType = daily.groupBy(_._1)
    val maxDay = daily.map(_._2).max
    val k1 = TimeSeries2.BrownK
    val k2 = TimeSeries2.BrownK2
    val (w1, w2) = (k1.sum, k2.sum)
    val taps2 = k2.length
    val got = TimeSeries2.q293BrownBacktest(spark, sf).collect()
    got.foreach { r =>
      val tpe = r.getString(0)
      val y = byType(tpe).map(t => t._2 -> t._3).toMap
        .withDefaultValue(0L)
      // eval days: full-history days with >= 1 event in the window
      val evals = ((taps2 - 1).toLong until maxDay).filter(t =>
        (0 until taps2).exists(j => y(t - j) > 0))
      val errs = evals.map { t =>
        val num1 = (0 until k1.length).map(j => k1(j) * y(t - j)).sum
        val num2 = (0 until taps2).map(j => k2(j) * y(t - j)).sum
        val f = TimeSeries2.Brown2Plus * (num1.toDouble / w1) -
          TimeSeries2.Brown1Plus * (num2.toDouble / w2)
        (micro(math.abs(f - y(t + 1).toDouble)),
          math.abs(y(t) - y(t + 1)))
      }
      val seMu = errs.map(_._1).sum
      val seN = errs.map(_._2).sum
      assert(r.getLong(1) == evals.length.toLong, s"$tpe days")
      assert(r.getDouble(2) ==
        rN(seMu.toDouble / 1000000d / evals.length, 4), s"$tpe brown")
      assert(r.getDouble(3) ==
        rN(seN.toDouble / evals.length, 4), s"$tpe naive")
      val expWinner = if (seMu < seN * 1000000L) "brown"
        else if (seMu > seN * 1000000L) "naive" else "tie"
      assert(r.getString(4) == expWinner, s"$tpe winner")
      assert(r.getDouble(5) ==
        rN(1.0 - seMu.toDouble / (seN.toDouble * 1000000d), 6))
    }
  }

  test("q294 strengths equal a sequential decomposition replay and " +
      "land in [0, 1]") {
    val daily = dailyCounts()
    val maxDay = daily.map(_._2).max
    val got = TimeSeries2.q294SeasonalStrength(spark, sf).collect()
    got.foreach { r =>
      val tpe = r.getString(0)
      val y = daily.filter(_._1 == tpe).map(t => t._2 -> t._3).toMap
        .withDefaultValue(0L)
      val valid = (3L to maxDay - 3).map { d =>
        val sum7 = (-3 to 3).map(o => y(d + o)).sum
        (d, y(d), y(d) * 7 - sum7, d % 7)
      }
      val sdow = valid.groupBy(_._4).map { case (dow, xs) =>
        dow -> xs.map(_._3).sum.toDouble / (7 * xs.length)
      }
      val qs = valid.map { case (_, yd, det7, dow) =>
        (micro(det7 / 7.0), micro(det7 / 7.0 - sdow(dow)),
          micro(yd - sdow(dow)))
      }
      def varOf(vs: Seq[Long]): Double = {
        val n = vs.length
        val s = vs.sum
        val s2 = vs.map(v => BigDecimal(v) * BigDecimal(v)).sum
        (s2.toDouble - s.toDouble * (s.toDouble / n)) / n
      }
      val (vS, vR, vT) = (varOf(qs.map(_._1)), varOf(qs.map(_._2)),
        varOf(qs.map(_._3)))
      assert(r.getLong(1) == valid.length.toLong)
      assert(r.getDouble(2) == rN(math.max(0.0, 1.0 - vR / vT), 6),
        s"$tpe trend")
      assert(r.getDouble(3) == rN(math.max(0.0, 1.0 - vR / vS), 6),
        s"$tpe seasonal")
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1 + 1e-9)
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1 + 1e-9)
    }
  }

  test("q295 winsorized Welch equals a sequential clamp replay and " +
      "agrees with q165 on the raw t") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def inA(u: Long): Boolean = Hashing.md5Hash60Value(s"arm:$u") % 2 == 0
    def welch(as: Seq[Double], bs: Seq[Double]): Double = {
      val (na, nb) = (as.length, bs.length)
      val (ma, mb) = (as.sum / na, bs.sum / nb)
      val va = (as.map(x => x * x).sum - as.sum * ma) / (na - 1)
      val vb = (bs.map(x => x * x).sum - bs.sum * mb) / (nb - 1)
      (ma - mb) / math.sqrt(va / na + vb / nb)
    }
    val got = Experiment.q295WinsorizedWelch(spark, sf).collect()
    got.foreach { r =>
      val tpe = r.getString(0)
      val rows = ev.filter(_._1 == tpe)
      val (lo, hi) = (pct(rows.map(_._3), 0.05), pct(rows.map(_._3), 0.95))
      val qw = rows.map(t =>
        (inA(t._2), t._3, micro(math.min(math.max(t._3.toDouble, lo), hi))))
      val (as, bs) = qw.partition(_._1)
      assert(r.getLong(1) == as.length.toLong &&
        r.getLong(2) == bs.length.toLong)
      // raw and winsorized t from exact integer sums (mirrors the
      // registered fixed expression up to the replay's equivalent
      // double arithmetic — asserted within 1 ulp-ish tolerance
      // because the replay folds Double seqs, then exactly on rounds)
      val tRawQ = welch(as.map(_._2.toDouble), bs.map(_._2.toDouble))
      val tWQ = welch(as.map(_._3.toDouble), bs.map(_._3.toDouble))
      assert(math.abs(r.getDouble(4) - tRawQ) < 1e-6, s"$tpe raw")
      assert(math.abs(r.getDouble(5) - tWQ) < 1e-6, s"$tpe winsor")
      assert(r.getString(6) ==
        (if (math.abs(r.getDouble(4)) > 1.96) "significant"
         else "not_significant"))
      assert(r.getString(7) ==
        (if (math.abs(r.getDouble(5)) > 1.96) "significant"
         else "not_significant"))
      assert(r.getBoolean(8) ==
        ((math.abs(r.getDouble(4)) > 1.96) !=
          (math.abs(r.getDouble(5)) > 1.96)))
    }
  }
}
