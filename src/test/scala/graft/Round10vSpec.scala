package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Contribution, FeaturePrep, Similarity}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-first batch
  * (q311 intra-list diversity, q312 covariate balance, q313 LOO
  * target-encoding audit, q314 price dispersion). */
class Round10vSpec extends SparkTestBase {

  test("q311 ILD equals a sequential pairwise-cosine replay over the " +
      "exact top-k lists") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(v =>
          BigDecimal(v.toDouble * 1000000d).setScale(0,
            BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    val top = Similarity.q36AnnBruteTopK(spark, sf)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sorted }
    val got = Similarity.q311IldAudit(spark, sf).collect()
    assert(got.length == top.size)
    got.foreach { r =>
      val members = top(r.getLong(0))
      val mus = for (i <- members.indices;
                     j <- (i + 1) until members.length) yield {
        val (a, b) = (vecs(members(i)), vecs(members(j)))
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val cos = dot.toDouble /
          (math.sqrt(a.map(x => x * x).sum.toDouble) *
            math.sqrt(b.map(x => x * x).sum.toDouble))
        micro(cos)
      }
      assert(r.getLong(1) == mus.length.toLong)
      assert(r.getDouble(2) ==
        rN(mus.sum.toDouble / mus.length / 1e6, 6),
        s"qid ${r.getLong(0)}")
      // a cosine mean of unit-ish vectors stays in [-1, 1]
      assert(r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9)
    }
  }

  test("q312 covariate balance equals a sequential per-arm recompute") {
    val feats = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        col("event_type"), to_date(col("ts")).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDate(3)))
      .groupBy(_._1).map { case (u, xs) =>
        (u, Map(
          "f_events" -> xs.length.toLong,
          "f_spend" -> xs.map(_._2).sum,
          "f_purchases" -> xs.count(_._3 == "purchase").toLong,
          "f_days" -> xs.map(_._4).distinct.length.toLong))
      }.toSeq
    def inA(u: Long): Boolean = Hashing.md5Hash60Value(s"arm:$u") % 2 == 0
    val (as, bs) = feats.partition(t => inA(t._1))
    val got = FeaturePrep.q312CovariateBalance(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      FeaturePrep.CorrFeatures.sorted)
    got.foreach { r =>
      val f = r.getString(0)
      val (xa, xb) = (as.map(_._2(f)), bs.map(_._2(f)))
      val (na, nb) = (xa.length.toLong, xb.length.toLong)
      val ma = xa.sum.toDouble / na
      val mb = xb.sum.toDouble / nb
      val va = (xa.map(x => x * x).sum.toDouble - xa.sum.toDouble * ma) /
        (na - 1)
      val vb = (xb.map(x => x * x).sum.toDouble - xb.sum.toDouble * mb) /
        (nb - 1)
      val smd = (ma - mb) / math.sqrt((va + vb) / 2.0)
      assert(r.getLong(1) == na && r.getLong(2) == nb)
      assert(r.getDouble(3) == rN(ma, 6) && r.getDouble(4) == rN(mb, 6))
      assert(r.getDouble(5) == rN(smd, 6), s"$f smd")
      assert(r.getBoolean(6) ==
        (math.abs(smd) < FeaturePrep.SmdThreshold))
    }
  }

  test("q313 LOO shifts equal a sequential replay and decay with " +
      "category size") {
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = FeaturePrep.q313LooEncoding(spark, sf).collect()
    got.foreach { r =>
      val ys = rows.filter(_._1 == r.getString(0)).map(_._2)
      val n = ys.length.toLong
      val s = ys.sum
      val devs = ys.map(y => (BigDecimal(y) * BigDecimal(n) -
        BigDecimal(s)).abs)
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == rN(s.toDouble / n / 100, 6))
      assert(r.getDouble(3) ==
        rN(devs.sum.toDouble / n / (n.toDouble * (n - 1)) / 100, 6))
      assert(r.getDouble(4) ==
        rN(devs.max.toDouble / (n.toDouble * (n - 1)) / 100, 6))
      // the shift is a 1/n effect: mean shift << naive mean
      assert(r.getDouble(3) < r.getDouble(2))
    }
  }

  test("q314 price dispersion equals a sequential quartile replay") {
    val parts = Tables.part(spark, sf)
      .select(col("p_brand"),
        expr("cast(round(p_retailprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = Contribution.q314PriceDispersion(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      parts.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val cs = parts.filter(_._1 == r.getString(0)).map(_._2)
      val (q1, q2, q3) = (pct(cs, 0.25), pct(cs, 0.5), pct(cs, 0.75))
      assert(r.getLong(1) == cs.length.toLong)
      assert(r.getDouble(2) == rN(q1 / 100, 2))
      assert(r.getDouble(3) == rN(q2 / 100, 2))
      assert(r.getDouble(4) == rN(q3 / 100, 2))
      assert(r.getDouble(5) == rN((q3 - q1) / (q3 + q1), 6))
      // quartiles are ordered and CQV lives in [0, 1) for positive prices
      assert(q1 <= q2 + 1e-9 && q2 <= q3 + 1e-9)
      assert(r.getDouble(5) >= 0 && r.getDouble(5) < 1)
    }
  }
}
