package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Dedup, InfoTheory}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-eighth batch
  * (q339 market-share shift, q340 dup rate by length, q341 engagement
  * diversity, q342 fulfilment span). */
class Round11cSpec extends SparkTestBase {

  test("q339 market-share shift equals a sequential replay and " +
      "shares sum to one per half") {
    val natOf = Tables.supplier(spark, sf)
      .select("s_suppkey", "s_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val li = Tables.lineitem(spark, sf)
      .select(unix_micros(col("l_shipdate")), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getLong(0), natOf(r.getLong(1)),
        r.getLong(2)))
    val cut = (li.map(_._1).min + li.map(_._1).max) / 2
    val prof = li.groupBy(_._2).map { case (n, xs) =>
      (n, xs.filter(_._1 < cut).map(_._3).sum,
        xs.filter(_._1 >= cut).map(_._3).sum) }.toSeq
    val (t1, t2) = (prof.map(_._2).sum, prof.map(_._3).sum)
    val got = Contribution.q339MarketShareShift(spark, sf).collect()
    var (s1, s2) = (0.0, 0.0)
    got.foreach { r =>
      val (_, r1, r2) = prof.find(_._1 == r.getInt(0)).get
      assert(r.getDouble(1) == rN(r1.toDouble / 100, 2))
      assert(r.getDouble(2) == rN(r2.toDouble / 100, 2))
      assert(r.getDouble(3) == rN(r1.toDouble / t1, 6))
      assert(r.getDouble(4) == rN(r2.toDouble / t2, 6))
      assert(r.getDouble(5) ==
        rN(r2.toDouble / t2 - r1.toDouble / t1, 6) + 0.0)
      s1 += r.getDouble(3); s2 += r.getDouble(4)
    }
    assert(math.abs(s1 - 1.0) < 1e-4 && math.abs(s2 - 1.0) < 1e-4)
  }

  test("q340 dup rate by length equals a sequential replay and " +
      "conserves the corpus") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val canon = docs.groupBy(_._3).map(_._2.map(_._1).min).toSet
    val edges = (1 to 9).map(k =>
      rN(pct(docs.map(_._2), k / 10.0), 6))
    val byBucket = docs.groupBy(d => edges.count(d._2.toDouble >= _))
    val got = Dedup.q340DupRateByLength(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == docs.length.toLong)
    got.foreach { r =>
      val ds = byBucket(r.getInt(0))
      val dup = ds.count(d => !canon(d._1)).toLong
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(2) == dup)
      assert(r.getDouble(3) == rN(dup.toDouble / ds.length, 6))
    }
  }

  test("q341 engagement diversity equals a sequential entropy replay") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perUser = ev.groupBy(_._1).map { case (u, xs) =>
      val byType = xs.groupBy(_._2).map { case (_, ys) =>
        ys.length.toLong }
      val n = byType.sum
      val entMu = byType.toSeq.map { c =>
        val p = c.toDouble / n
        BigDecimal(-p * (math.log(p) / math.log(2.0)) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      (u, entMu / 250000, xs.length.toLong, xs.map(_._3).sum)
    }.toSeq
    val got = InfoTheory.q341EngagementDiversity(spark, sf).collect()
    assert(got.map(_.getLong(2)).sum == perUser.length.toLong)
    got.foreach { r =>
      val us = perUser.filter(_._2 == r.getLong(0))
      assert(r.getLong(2) == us.length.toLong, s"seg ${r.getLong(0)}")
      assert(r.getDouble(3) ==
        rN(us.map(_._3).sum.toDouble / us.length, 4))
      assert(r.getDouble(4) ==
        rN(us.map(_._4).sum.toDouble / us.length / 100, 2))
    }
  }

  test("q342 fulfilment span equals a sequential replay and P50 <= " +
      "P90") {
    val spans = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), to_date(col("l_shipdate"))).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).map { case (o, xs) =>
        val ds = xs.map(_._2)
        o -> java.time.temporal.ChronoUnit.DAYS
          .between(ds.min, ds.max)
      }
    val month = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Contribution.q342FulfilmentSpan(spark, sf).collect()
    got.foreach { r =>
      val ss = spans.filter(t => month(t._1) == r.getString(0))
        .values.toSeq
      assert(r.getLong(1) == ss.length.toLong)
      assert(r.getDouble(2) ==
        rN(ss.count(_ == 0).toDouble / ss.length, 6))
      assert(r.getDouble(3) == rN(pct(ss, 0.5), 4))
      assert(r.getDouble(4) == rN(pct(ss, 0.9), 4))
      assert(r.getDouble(3) <= r.getDouble(4) + 1e-9)
    }
  }
}
