package graft

import org.apache.spark.sql.functions._

import graft.operators.{Affinity, Lifecycle, TextProfile}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-ninth batch
  * (q343 ingest-quality trend, q344 truncation waste, q345 events
  * data card, q346 basket-size profile). */
class Round11dSpec extends SparkTestBase {

  test("q343 ingest-quality trend equals a sequential replay and " +
      "conserves the corpus") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        words(r.getString(2)).length.toLong))
    val edges = (1 to 9).map(k => rN(pct(docs.map(_._1), k / 10.0), 6))
    val byBucket = docs.groupBy(d => edges.count(d._1.toDouble >= _))
    val got = TextProfile.q343IngestQualityTrend(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == docs.length.toLong)
    got.foreach { r =>
      val ds = byBucket(r.getInt(0))
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getDouble(2) ==
        rN(ds.map(_._2).sum.toDouble / ds.length, 4))
      assert(r.getDouble(3) ==
        rN(ds.map(_._3).sum.toDouble / ds.length, 4))
      assert(r.getDouble(4) ==
        rN(ds.map(_._2).sum.toDouble / ds.map(_._3).sum, 4))
      assert(r.getDouble(5) ==
        rN(ds.count(_._3 < 50).toDouble / ds.length, 6))
    }
  }

  test("q344 truncation waste equals a sequential replay and is " +
      "monotone in the context length") {
    val toks = Tables.documents(spark, sf).select("text").collect()
      .map(r => words(r.getString(0)).length.toLong)
    val got = TextProfile.q344TruncationWaste(spark, sf).collect()
    assert(got.map(_.getLong(2)).toSeq ==
      TextProfile.ContextLengths)
    got.foreach { r =>
      val l = r.getLong(2)
      val over = toks.filter(_ > l)
      assert(r.getLong(0) == toks.length.toLong)
      assert(r.getLong(1) == toks.sum)
      assert(r.getLong(3) == over.length.toLong)
      assert(r.getDouble(4) == rN(over.length.toDouble / toks.length, 6))
      assert(r.getLong(5) == over.map(_ - l).sum)
      assert(r.getDouble(6) == rN(over.map(_ - l).sum.toDouble /
        toks.sum, 6))
    }
    val losses = got.map(_.getLong(5))
    assert(losses.zip(losses.drop(1)).forall { case (a, b) => a >= b })
  }

  test("q345 events data card equals a sequential replay") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), to_date(col("ts")),
        expr("cast(round(value * 100, 0) as bigint)")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDate(2), r.getLong(3)))
    val got = Lifecycle.q345EventsDataCard(spark, sf).collect()
    got.foreach { r =>
      val xs = ev.filter(_._1 == r.getString(0))
      assert(r.getLong(1) == xs.length.toLong)
      assert(r.getLong(2) == xs.map(_._2).distinct.length.toLong)
      assert(r.getLong(3) == xs.map(_._3).distinct.length.toLong)
      assert(r.getDouble(4) == rN(xs.map(_._4).sum.toDouble / 100, 2))
      assert(r.getDouble(5) ==
        rN(xs.map(_._4).sum.toDouble / xs.length / 100, 4))
      assert(r.getDouble(6) == rN(pct(xs.map(_._4), 0.5) / 100, 4))
      assert(r.getDouble(7) == rN(pct(xs.map(_._4), 0.95) / 100, 4))
      assert(r.getDouble(8) == rN(xs.map(_._4).max.toDouble / 100, 2))
      assert(r.getDouble(9) ==
        rN(xs.length.toDouble / xs.map(_._2).distinct.length, 4))
    }
  }

  test("q346 basket-size profile equals a sequential replay and " +
      "pins the bounded-basket claim") {
    val sizes = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).map(_._2.length.toLong).toSeq
    val n = sizes.length.toLong
    val m = sizes.sum.toDouble / n
    val varK = (sizes.map(k => BigDecimal(k) * BigDecimal(k)).sum
      .toDouble - sizes.sum.toDouble * m) / n
    val got = Affinity.q346BasketSizeProfile(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum == n)
    got.foreach { r =>
      val cnt = sizes.count(_ == r.getLong(0)).toLong
      assert(r.getLong(1) == cnt)
      assert(r.getDouble(2) == rN(cnt.toDouble / n, 6))
      assert(r.getDouble(3) == rN(m, 4))
      assert(r.getDouble(4) == rN(varK / m, 6))
    }
    // the claim the affinity scaladocs rest on: baskets stay small
    assert(got.map(_.getLong(0)).max <= 16,
      "basket-size bound drifted — revisit the a-priori cost claims")
  }
}
