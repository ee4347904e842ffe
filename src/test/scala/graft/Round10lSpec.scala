package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Lifecycle, SketchAlgebra, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 eleventh batch (q272
  * session-threshold curve, q273 exact source overlap, q274 Simpson
  * audit, q275 burst episodes). */
class Round10lSpec extends SparkTestBase {

  /** Spark's exact `percentile(x, 0.5)` (linear interpolation). */
  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    val pos = 0.5 * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 < s.length) s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    else s(lo).toDouble
  }

  test("q272 session counts equal a sequential per-user gap replay at " +
      "every threshold and shrink as the threshold grows") {
    val out = Lifecycle.q272SessionThresholds(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_id", "ts").collect()
      .map { r =>
        val t = r.getTimestamp(2)
        (r.getLong(0), r.getLong(1),
          (t.getTime / 1000) * 1000000L + t.getNanos / 1000)
      }
    val byUser = evs.groupBy(_._1).values.map(_.sortBy(e => (e._3, e._2)))
    val gaps = byUser.flatMap(es =>
      es.zip(es.drop(1)).map { case (a, b) => b._3 - a._3 }).toSeq
    val nUsers = byUser.size.toLong
    val nEvents = evs.length.toLong
    Lifecycle.SessionThresholds.foreach { t =>
      val breaks = gaps.count(_ > t * 1000000L).toLong
      val sessions = nUsers + breaks
      assert(out(t) == ((sessions,
        r4(nEvents.toDouble / sessions.toDouble),
        r6(breaks.toDouble / (nEvents - nUsers).toDouble))),
        s"threshold $t diverged")
    }
    val curve = Lifecycle.SessionThresholds.map(out(_)._1)
    assert(curve.zip(curve.drop(1)).forall { case (a, b) => b <= a },
      "sessions must not increase with the threshold")
  }

  private lazy val sourceBigrams: Map[String, Set[String]] =
    Tables.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, ds) =>
        s -> ds.flatMap { case (_, text) =>
          val ws = text.trim.split(" ", -1)
          if (ws.length < 2) Seq.empty[String]
          else ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }.toSeq
        }.toSet
      }

  test("q273 overlap matrix equals a sequential set replay and " +
      "ground-truths q228's KMV estimates") {
    val out = SketchAlgebra.q273SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    val srcs = sourceBigrams.keys.toSeq.sorted
    val pairs = for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield (srcs(i), srcs(j))
    pairs.foreach { case (a, b) =>
      val (sa, sb) = (sourceBigrams(a), sourceBigrams(b))
      val inter = sa.intersect(sb).size.toLong
      val uni = sa.union(sb).size.toLong
      assert(out((a, b)) == ((sa.size.toLong, sb.size.toLong, inter,
        uni, r6(inter.toDouble / uni.toDouble))), s"pair ($a,$b) diverged")
    }
    assert(out.keySet == pairs.toSet)
    // the KMV sketch (q228) must estimate these exact Jaccards to
    // within its k=256 sampling error (loose 3-sigma-ish band)
    val est = SketchAlgebra.q228KmvJaccard(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex("jaccard_est"))).toMap
    est.foreach { case (pair, e) =>
      assert(math.abs(e - out(pair)._5) <= 0.2,
        s"KMV estimate for $pair off by more than the error band")
    }
  }

  test("q274 slopes equal a sequential moment replay and the pooled " +
      "moments decompose over nations") {
    val out = Contribution.q274SimpsonAudit(spark, sf).collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toMap
    val nation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1))))
      .groupBy(_._1).map { case (c, os) =>
        (nation(c), os.map(_._2).sum, os.size.toLong) }.toSeq
    def slopeNum(g: Seq[(Long, Long, Long)]): Double = {
      val n = g.size.toDouble
      n * g.map(t => t._2 * t._3).sum.toDouble -
        g.map(_._2).sum.toDouble * g.map(_._3).sum.toDouble
    }
    def slopeDen(g: Seq[(Long, Long, Long)]): Double = {
      val n = g.size.toDouble
      n * g.map(t => t._2 * t._2).sum.toDouble -
        g.map(_._2).sum.toDouble * g.map(_._2).sum.toDouble
    }
    val pooledNum = slopeNum(perCust); val pooledDen = slopeDen(perCust)
    perCust.groupBy(_._1).foreach { case (nat, g) =>
      val expSlope = if (slopeDen(g) != 0.0)
        Some(rN(slopeNum(g) / slopeDen(g), 8)) else None
      val expPooled = if (pooledDen != 0.0)
        Some(rN(pooledNum / pooledDen, 8)) else None
      val flip = math.signum(slopeNum(g)) * math.signum(pooledNum) < 0.0
      assert(out(nat) == ((g.size.toLong, expSlope, expPooled, flip)),
        s"nation $nat diverged")
    }
  }

  test("q275 burst episodes equal a sequential islands replay over " +
      "the Poisson-surprise threshold") {
    val out = TimeSeries2.q275BurstEpisodes(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min
    val daily = evs.groupBy(e => (e._1,
      java.time.temporal.ChronoUnit.DAYS.between(d0, e._2)))
      .map { case (k, v) => k -> v.size.toLong }
    val expect = daily.keys.map(_._1).toSeq.distinct.sorted.flatMap { t =>
      val series = daily.collect { case ((`t`, d), n) => (d, n) }.toSeq
      val med = median(series.map(_._2))
      val burstDays = series
        .filter(s => s._2.toDouble > med + TimeSeries2.BurstSigma *
          math.sqrt(med))
        .map(_._1).sorted
      burstDays.zipWithIndex.groupBy { case (d, i) => d - i }.values
        .map { ws =>
          val ds = ws.map(_._1)
          val ns = ds.map(d => daily((t, d)))
          (t, ds.min, ds.max, ds.size.toLong, ns.max, ns.sum)
        }.toSeq
    }.sortBy(e => (e._1, e._2))
    assert(out.toSeq == expect)
    // episodes never overlap and each spans exactly its day count
    out.foreach(e => assert(e._3 - e._2 + 1 == e._4))
  }
}
