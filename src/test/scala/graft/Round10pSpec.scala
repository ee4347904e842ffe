package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, TextProfile}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 fifteenth batch
  * (q288 readability, q289 OOV emergence, q290 selectivity
  * calibration, q291 Heaps'-law exponent). */
class Round10pSpec extends SparkTestBase {

  test("q288 readability equals a sequential syllable/sentence replay") {
    val docs = Tables.documents(spark, sf).select("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val syl = "[aeiouyAEIOUY]+".r
    val sen = "[.!?]+".r
    val got = TextProfile.q288Readability(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      docs.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val ds = docs.filter(_._1 == r.getString(0)).map(_._2)
        .map { t =>
          val ws = words(t)
          (ws.length.toLong,
            math.max(1L, sen.findAllIn(t).length.toLong),
            ws.map(w => math.max(1L, syl.findAllIn(w).length.toLong)).sum)
        }
        .filter(_._1 > 0)
      val (sw, ss, ssyl) = (ds.map(_._1).sum, ds.map(_._2).sum,
        ds.map(_._3).sum)
      val wps = sw.toDouble / ss
      val spw = ssyl.toDouble / sw
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getDouble(2) == rN(wps, 4))
      assert(r.getDouble(3) == rN(spw, 4))
      assert(r.getDouble(4) == rN(206.835 - 1.015 * wps - 84.6 * spw, 4))
      assert(r.getDouble(5) == rN(0.39 * wps + 11.8 * spw - 15.59, 4))
      // sanity: at least one syllable per word, one word per sentence
      assert(r.getDouble(3) >= 1.0 - 1e-9)
      assert(r.getDouble(2) >= 1.0 - 1e-9)
    }
  }

  test("q289 OOV emergence equals a sequential two-half vocab replay") {
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val cut = (docs.map(_._2).min + docs.map(_._2).max) / 2
    val got = TextProfile.q289OovEmergence(spark, sf).collect()
    got.foreach { r =>
      val ds = docs.filter(_._1 == r.getString(0))
      val c1 = ds.filter(_._2 <= cut).flatMap(d => words(d._3))
        .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      val c2 = ds.filter(_._2 > cut).flatMap(d => words(d._3))
        .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      val v2new = c2.keySet.diff(c1.keySet)
      val t2 = c2.values.sum
      val t2new = v2new.toSeq.map(c2).sum
      assert(r.getLong(1) == c1.size.toLong, "v1")
      assert(r.getLong(2) == c2.size.toLong, "v2")
      assert(r.getLong(3) == v2new.size.toLong, "v2_new")
      assert(r.getDouble(4) == rN(v2new.size.toDouble / c2.size, 6))
      assert(r.getDouble(5) == rN(t2new.toDouble / t2, 6))
      // law: new types are a subset of second-half types
      assert(r.getLong(3) <= r.getLong(2))
    }
  }

  test("q290 selectivity calibration equals a sequential histogram " +
      "replay and the boundary probes anchor the estimate") {
    val cents = Tables.lineitem(spark, sf)
      .select(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    val bs = (0 to 10).map(j => pct(cents.toSeq, j / 10.0))
    val got = Audit.q290SelectivityCalibration(spark, sf).collect()
    assert(got.length == 10)
    got.foreach { r =>
      val j = r.getInt(0)
      val (lo, hi) = (bs(j - 1), bs(j))
      val m = (lo + hi) / 2
      val est =
        if (hi > lo) (j - 1 + (m - lo) / (hi - lo)) / 10.0
        else (j.toDouble - 0.5) / 10.0
      val actual = cents.count(_.toDouble <= m).toDouble / n
      assert(r.getDouble(1) == rN(lo / 100, 2), s"b$j lo")
      assert(r.getDouble(2) == rN(hi / 100, 2), s"b$j hi")
      assert(r.getDouble(3) == rN(est, 8), s"b$j est")
      assert(r.getDouble(4) == rN(actual, 8), s"b$j actual")
      assert(r.getDouble(5) == rN(math.abs(est - actual), 8), s"b$j err")
      // equi-depth: the exact mass below boundary j is ~j/10 by
      // construction, so mid-bucket actuals sit inside the bucket
      assert(actual >= (j - 1) / 10.0 - 1e-9 &&
        actual <= j / 10.0 + 1e-9, s"b$j bucket mass")
    }
  }

  test("q291 Heaps exponent equals a sequential quantized-OLS replay") {
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), words(r.getString(2))))
      .filter(_._3.nonEmpty)
    val got = TextProfile.q291HeapsLaw(spark, sf).collect()
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val ordered = ds.sortBy(_._2)
      val dcount = ordered.length
      val probeIdx = (1 to 10).map(k => (k * dcount + 9) / 10).toSet
      val seen = scala.collection.mutable.Set.empty[String]
      var cn = 0L
      val pts = ordered.zipWithIndex.flatMap { case ((_, _, ws), i) =>
        cn += ws.length
        seen ++= ws
        if (probeIdx(i + 1)) Some((
          BigDecimal(math.log(cn.toDouble) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
          BigDecimal(math.log(seen.size.toDouble) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        else None
      }
      val k = pts.length.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(t => t._1 * t._2).sum
      val sxx = pts.map(t => t._1 * t._1).sum
      val syy = pts.map(t => t._2 * t._2).sum
      val num = k.toDouble * sxy - sx.toDouble * sy.toDouble
      val denx = k.toDouble * sxx - sx.toDouble * sx.toDouble
      val deny = k.toDouble * syy - sy.toDouble * sy.toDouble
      if (k >= 2 && denx != 0.0 && deny != 0.0)
        Some((src, k, rN(num / denx, 6), rN(num * num / (denx * deny), 6)))
      else None
    }.sortBy(_._1)
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3))).toSeq == expect)
    // law: growth exponents live in (0, 1] for a growing vocabulary
    got.foreach(r => assert(r.getDouble(2) > 0 &&
      r.getDouble(2) <= 1.0 + 1e-6, s"${r.getString(0)} beta range"))
  }
}
