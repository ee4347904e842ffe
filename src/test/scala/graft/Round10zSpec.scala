package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Dedup, Lifecycle}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-fifth batch
  * (q327 onboarding velocity, q328 salt advisor, q329 exact-dup
  * savings by source, q330 growth accounting). */
class Round10zSpec extends SparkTestBase {

  test("q327 onboarding velocity equals a sequential replay and " +
      "reach rates are monotone in K") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1).map { case (u, xs) =>
      u -> xs.sortBy(e => (e._3, e._2)).map(_._3) }
    val got = Lifecycle.q327OnboardingVelocity(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq ==
      Lifecycle.OnboardK.map(_.toLong))
    got.foreach { r =>
      val k = r.getLong(0).toInt
      val days = byUser.values.filter(_.length >= k)
        .map(ts => (ts(k - 1) - ts.head) / 86400000000L).toSeq
      assert(r.getLong(1) == byUser.size.toLong)
      assert(r.getLong(2) == days.length.toLong)
      assert(r.getDouble(3) == rN(days.length.toDouble / byUser.size, 6))
      assert(r.getDouble(4) == rN(pct(days, 0.5), 4))
      assert(r.getDouble(5) == rN(pct(days, 0.9), 4))
    }
    val rates = got.map(_.getDouble(3))
    assert(rates.zip(rates.drop(1)).forall { case (a, b) => a >= b })
  }

  test("q328 salt advisor equals a sequential replay") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey").collect()
    val keyed: Map[String, Seq[Long]] = Map(
      "l_orderkey" -> li.map(_.getLong(0)).toSeq,
      "l_partkey" -> li.map(_.getLong(1)).toSeq,
      "l_suppkey" -> li.map(_.getLong(2)).toSeq)
    val got = Audit.q328SaltAdvisor(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == keyed.keys.toSeq.sorted)
    got.foreach { r =>
      val vs = keyed(r.getString(0))
      val hist = vs.groupBy(identity).map(_._2.size.toLong)
      val maxN = hist.max
      val n = vs.length.toLong
      assert(r.getLong(1) == n && r.getLong(2) == hist.size.toLong)
      assert(r.getLong(3) == maxN)
      assert(r.getDouble(4) == rN(maxN.toDouble / n, 8))
      assert(r.getLong(5) ==
        (maxN * Audit.SaltParallelism + n - 1) / n)
      assert(r.getLong(5) >= 1)
    }
  }

  test("q329 exact-dup savings equal a sequential md5 replay") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val canon = docs.groupBy(_._3).map { case (_, xs) =>
      xs.map(_._1).min -> xs.map(_._1).toSet }
    val canonSet = canon.keys.toSet
    def toks(t: String): Long =
      t.trim.split(" ", -1).count(_.nonEmpty).toLong
    val got = Dedup.q329ExactDupSavings(spark, sf).collect()
    got.foreach { r =>
      val ds = docs.filter(_._2 == r.getString(0))
      val dup = ds.filter(d => !canonSet(d._1))
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(2) == dup.length.toLong)
      assert(r.getDouble(3) == rN(dup.length.toDouble / ds.length, 6))
      assert(r.getDouble(4) ==
        rN(dup.map(d => toks(d._3)).sum.toDouble /
          ds.map(d => toks(d._3)).sum, 6))
    }
  }

  test("q330 growth accounting equals a sequential replay and " +
      "decomposes actives exactly") {
    val uw = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("datediff(to_date(ts), date'2024-01-01') div 7"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val byUser = uw.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).sorted }
    val weeks = uw.map(_._2).distinct.sorted
    val got = Lifecycle.q330GrowthAccounting(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq == weeks.toSeq)
    got.foreach { r =>
      val w = r.getLong(0)
      val active = byUser.count(_._2.contains(w)).toLong
      val newU = byUser.count(_._2.head == w).toLong
      val retained = byUser.count(u =>
        u._2.contains(w) && u._2.contains(w - 1) && u._2.head != w).toLong
      val resurrected = active - newU - retained
      val churned = byUser.count(u =>
        u._2.contains(w - 1) && !u._2.contains(w)).toLong
      assert(r.getLong(1) == active)
      assert(r.getLong(2) == newU)
      assert(r.getLong(3) == retained)
      assert(r.getLong(4) == resurrected)
      if (weeks.contains(w - 1)) assert(r.getLong(5) == churned, s"wk $w")
      else assert(r.isNullAt(5))
      // decomposition identity
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4))
      if (!r.isNullAt(5) && r.getLong(5) > 0)
        assert(r.getDouble(6) ==
          rN((newU + resurrected).toDouble / churned, 4))
    }
  }
}
