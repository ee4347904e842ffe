package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, DedupClusters, Skew, TimeSeries}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 eighth batch (q258
  * cluster sizes, q259 Hill tail index, q260 rank-biased overlap,
  * q261 exact EWMA). */
class Round10iSpec extends SparkTestBase {

  test("q258 cluster-size histogram conserves the corpus and matches " +
      "the q73 labels") {
    val out = DedupClusters.q258ClusterSizes(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val labels = DedupClusters.q73DedupClusters(spark, sf)
      .select("cluster_id").collect().map(_.getLong(0))
    val nTotal = Tables.documents(spark, sf).count()
    val hist = labels.groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, cs) => sz -> cs.size.toLong }
    val singles = nTotal - labels.length
    hist.foreach { case (sz, nc) =>
      assert(out(sz) == ((nc, sz * nc,
        r6((sz * nc).toDouble / nTotal))), s"size $sz diverged")
    }
    assert(out(1L)._1 == singles)
    assert(out.values.map(_._2).sum == nTotal,
      "histogram docs must conserve the corpus")
  }

  test("q259 Hill ladder equals a sequential order-statistics replay " +
      "and alpha is positive") {
    val out = Skew.q259HillTail(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val totals = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map { case (u, rs) => (u, rs.map(_._2).sum) }.toSeq
    val ranked = totals.sortBy(t => (-t._2, t._1)).map(_._2)
    Skew.HillKs.foreach { k =>
      if (ranked.length > k) {
        val xk1 = ranked(k)
        val s = ranked.take(k).map(x =>
          micro(math.log(x.toDouble / xk1.toDouble))).sum
        val alpha = if (s > 0) Some(r4(k.toDouble * 1e6 / s)) else None
        assert(out(k) == ((xk1, alpha)), s"k $k diverged")
        alpha.foreach(a => assert(a > 0.0))
      } else assert(!out.contains(k), s"k $k must be absent")
    }
  }

  test("q260 RBO equals a sequential pinned-weight replay; the " +
      "cumulative score is nondecreasing and bounded by 1") {
    val out = Contribution.q260RankOverlap(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val users = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map { case (u, rs) =>
        (u, rs.map(_._2).sum, rs.length.toLong) }.toSeq
    val D = Contribution.RboDepth
    val ra = users.sortBy(u => (-u._2, u._1)).take(D).map(_._1).zipWithIndex
      .map { case (u, i) => u -> (i + 1) }.toMap
    val rb = users.sortBy(u => (-u._3, u._1)).take(D).map(_._1).zipWithIndex
      .map { case (u, i) => u -> (i + 1) }.toMap
    val enter = ra.keySet.intersect(rb.keySet).toSeq
      .map(u => math.max(ra(u), rb(u)))
    var cum = 0L
    (1 to D).foreach { d =>
      val overlap = enter.count(_ <= d).toLong
      cum += BigDecimal(Contribution.RboW6(d - 1) * overlap / d.toDouble)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(out(d) == ((overlap, r6(cum.toDouble / 1e6))),
        s"depth $d diverged")
    }
    val curve = (1 to D).map(out(_)._2)
    assert(curve.zip(curve.drop(1)).forall { case (a, b) => b >= a })
    assert(curve.last <= 1.0 + 1e-9)
  }

  test("q261 EWMA equals a sequential pinned-weight replay and stays " +
      "inside the window's observed range") {
    val out = TimeSeries.q261Ewma(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getDouble(2))
      .toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min
    val daily = evs.groupBy(e => (e._1,
      java.time.temporal.ChronoUnit.DAYS.between(d0, e._2)))
      .map { case (k, v) => k -> v.size.toLong }
    val maxDay = daily.keys.map(_._2).max
    daily.keys.map(_._1).toSeq.distinct.foreach { t =>
      (0L to maxDay).foreach { td =>
        val window = (0 until TimeSeries.EwmaTaps).flatMap { j =>
          daily.get((t, td - j)).map(n => (n, TimeSeries.EwmaW6(j)))
        }
        if (window.nonEmpty) {
          val num = window.map { case (n, w) => n * w }.sum
          val den = window.map(_._2).sum
          val expect = r4(num.toDouble / den.toDouble)
          val key = (t, d0.plusDays(td).toString)
          assert(out(key) == expect, s"cell $key diverged")
          assert(expect >= window.map(_._1).min.toDouble - 1e-9 &&
            expect <= window.map(_._1).max.toDouble + 1e-9)
        }
      }
    }
  }
}
