package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Curation2, DedupClusters, Lifecycle}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 eighteenth batch
  * (q300 dedup IDF shift, q301 water-filling allocation, q302 churn
  * labels, q303 revenue VaR/CVaR). */
class Round10sSpec extends SparkTestBase {

  test("q300 IDF shift equals a replay over the q73 labels and shifts " +
      "are non-negative") {
    val clusters = DedupClusters.q73DedupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val canon = clusters.groupBy(_._2).map { case (c, ms) =>
      c -> ms.map(_._1).min }
    val dups = clusters.filter { case (d, c) => d != canon(c) }
      .map(_._1).toSet
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nRaw = docs.length.toLong
    val nDedup = nRaw - dups.size
    val dfByWord = docs.flatMap { case (id, t) =>
      words(t).distinct.map(w => (w, id)) }
      .groupBy(_._1).map { case (w, xs) =>
        w -> (xs.length.toLong, xs.count(x => !dups(x._2)).toLong) }
    def idf(n: Long, df: Long): Double = math.log((n + 1).toDouble / (df + 1))
    val expect = dfByWord.toSeq.map { case (w, (dr, dd)) =>
      (w, dr, dd, dr - dd, rN(idf(nRaw, dr), 6), rN(idf(nDedup, dd), 6),
        rN(idf(nDedup, dd) - idf(nRaw, dr), 6))
    }.sortBy(t => (-t._4, t._1)).take(DedupClusters.IdfShiftTopK)
    val got = DedupClusters.q300IdfShift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == expect, "idf-shift list diverged")
    // dropping docs can only raise idf of the dropped terms
    got.foreach(t => assert(t._4 >= 0))
  }

  test("q301 water-filling equals a sequential level search and " +
      "conserves the budget") {
    val sup = Tables.documents(spark, sf).select("source", "text")
      .collect().map(r => (r.getString(0), words(r.getString(1)).length.toLong))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
      .toSeq.sortBy(t => (t._2, t._1))
    val g = sup.length.toLong
    val total = sup.map(_._2).sum
    val budget = total / 2
    var prefix = 0L
    var level = -1.0
    for (((_, s), i) <- sup.zipWithIndex if level < 0) {
      val prev = if (i == 0) 0L else sup(i - 1)._2
      val den = g - i
      val num = budget - prefix
      if (prev * den <= num && num <= s * den) level = num.toDouble / den
      else prefix += s
    }
    val got = Curation2.q301WaterFilling(spark, sf).collect()
    assert(got.length == g)
    var allocSum = 0.0
    got.foreach { r =>
      val s = sup.find(_._1 == r.getString(0)).get._2
      assert(r.getLong(1) == s)
      assert(r.getLong(2) == budget)
      assert(r.getDouble(3) == rN(math.min(s.toDouble, level), 4))
      assert(r.getBoolean(4) == (s.toDouble > level))
      assert(r.getDouble(5) == rN(level, 4))
      allocSum += math.min(s.toDouble, level)
    }
    // water-filling conserves the budget exactly (pre-rounding)
    assert(math.abs(allocSum - budget) < 1e-6 * budget + 1e-4)
  }

  test("q302 churn labels equal a sequential replay and cover every " +
      "first-half-active user") {
    val ev = Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val cut = (ev.map(_._1).min + ev.map(_._1).max) / 2
    val users = ev.groupBy(_._2).map { case (u, xs) =>
      (u, xs.count(_._1 < cut).toLong, xs.count(_._1 >= cut).toLong)
    }.filter(_._2 > 0).toSeq
    val edges = (1 to 9).map(k => rN(pct(users.map(_._2), k / 10.0), 6))
    val byBucket = users.groupBy(u => edges.count(u._2 >= _))
    val got = Lifecycle.q302ChurnLabels(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == users.length.toLong)
    got.foreach { r =>
      val us = byBucket(r.getInt(0))
      assert(r.getLong(1) == us.length.toLong)
      assert(r.getLong(2) == us.map(_._2).sum)
      val churned = us.count(_._3 == 0).toLong
      assert(r.getLong(3) == churned)
      assert(r.getDouble(4) == rN(churned.toDouble / us.length, 6))
    }
  }

  test("q303 revenue VaR equals a sequential replay and CVaR bounds " +
      "the floor from below") {
    val daily = Tables.lineitem(spark, sf)
      .select(to_date(col("l_shipdate")).as("d"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("c"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
      .groupBy(_._1).map(_._2.map(_._2).sum).toSeq
    val var5 = pct(daily, 0.05)
    val tail = daily.filter(_.toDouble <= var5)
    val r = Contribution.q303RevenueVar(spark, sf).collect().head
    assert(r.getLong(0) == daily.length.toLong)
    assert(r.getDouble(1) ==
      rN(daily.sum.toDouble / daily.length / 100, 2))
    assert(r.getDouble(2) == rN(var5 / 100, 2))
    assert(r.getLong(3) == tail.length.toLong)
    assert(r.getDouble(4) ==
      rN(tail.sum.toDouble / tail.length / 100, 2))
    assert(r.getDouble(4) <= r.getDouble(2) + 1e-9, "CVaR <= VaR")
    assert(r.getDouble(2) <= r.getDouble(1) + 1e-9, "VaR <= mean")
  }
}
