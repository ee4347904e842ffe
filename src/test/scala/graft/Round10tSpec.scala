package graft

import org.apache.spark.sql.functions._

import graft.operators.{Drift, FeaturePrep, Similarity}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 nineteenth batch
  * (q304 embedding isotropy, q305 priority-mix drift, q306 Cramér's V
  * matrix). */
class Round10tSpec extends SparkTestBase {

  test("q304 isotropy audit equals a sequential replay and the ratio " +
      "is in [0, 1]") {
    val vecs = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(v =>
        BigDecimal(v.toDouble * 1000000d).setScale(0,
          BigDecimal.RoundingMode.HALF_UP).toLong))
    val n = vecs.length.toLong
    val dim = vecs.map(_.length).max
    val sumN2 = vecs.map(_.map(x => x * x).sum).sum
    val sDim = (0 until dim).map(d => vecs.map(_(d)).sum)
    val mu2 = sDim.map(s => BigDecimal(s) * BigDecimal(s)).sum
    val domIdx = sDim.zipWithIndex.maxBy(t => (t._1.abs, -t._2))._2
    val r = Similarity.q304IsotropyAudit(spark, sf).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == dim.toLong)
    assert(r.getDouble(2) == rN(sumN2.toDouble / n / 1e12, 6))
    assert(r.getDouble(3) == rN(math.sqrt(mu2.toDouble) / n / 1e6, 6))
    assert(r.getDouble(4) ==
      rN(mu2.toDouble / (n.toDouble * sumN2.toDouble), 8))
    assert(r.getInt(5) == domIdx)
    val sDom = BigDecimal(sDim(domIdx)) * BigDecimal(sDim(domIdx))
    assert(r.getDouble(6) == rN((sDom / mu2).toDouble, 6) ||
      r.getDouble(6) == rN(sDom.toDouble / mu2.toDouble, 6))
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1 + 1e-9)
  }

  test("q305 priority drift equals a sequential replay and TV is the " +
      "half-sum of deltas") {
    val ord = Tables.orders(spark, sf)
      .select(unix_micros(col("o_orderdate")).as("us"),
        col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cut = (ord.map(_._1).min + ord.map(_._1).max) / 2
    val prof = ord.groupBy(_._2).map { case (p, xs) =>
      (p, xs.count(_._1 < cut).toLong, xs.count(_._1 >= cut).toLong) }
      .toSeq.sortBy(_._1)
    val (t1, t2) = (prof.map(_._2).sum, prof.map(_._3).sum)
    val tvNum = prof.map(p => (p._2 * t2 - p._3 * t1).abs).sum
    val tv = tvNum.toDouble / (2.0 * t1.toDouble * t2.toDouble)
    val got = Drift.q305PriorityDrift(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == prof.map(_._1))
    got.zip(prof).foreach { case (r, (_, n1, n2)) =>
      assert(r.getLong(1) == n1 && r.getLong(2) == n2)
      assert(r.getDouble(3) == rN(n1.toDouble / t1, 6))
      assert(r.getDouble(4) == rN(n2.toDouble / t2, 6))
      assert(r.getDouble(5) == rN(n2.toDouble / t2 - n1.toDouble / t1, 6))
      assert(r.getDouble(6) == rN(tv, 6))
    }
    // TV ≡ half the L1 distance between the share vectors
    val halfL1 = prof.map(p =>
      math.abs(p._2.toDouble / t1 - p._3.toDouble / t2)).sum / 2
    assert(math.abs(tv - halfL1) < 1e-12)
  }

  test("q306 Cramér's V equals a sequential contingency replay and " +
      "lands in [0, 1]") {
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey").cast("string"),
        col("c_mktsegment")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val base = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderpriority").collect()
      .map { r =>
        val (nat, seg) = cust(r.getLong(0))
        (nat, seg, r.getString(1))
      }
    def v(ka: Seq[String], kb: Seq[String], name: String)
        : (String, Long, Long, Long, Long, Double, Double) = {
      val cells = ka.zip(kb).groupBy(identity)
        .map { case (k, xs) => k -> xs.length.toLong }
      val (as, bs) = (ka.distinct.sorted, kb.distinct.sorted)
      val n = ka.length.toLong
      val rowT = as.map(a => a -> cells.filter(_._1._1 == a)
        .values.sum).toMap
      val colT = bs.map(b => b -> cells.filter(_._1._2 == b)
        .values.sum).toMap
      val chiMicro = (for (a <- as; b <- bs) yield {
        val o = cells.getOrElse((a, b), 0L)
        val e = (rowT(a) * colT(b)).toDouble / n
        micro((o - e) * (o - e) / e)
      }).sum
      val chi2 = chiMicro.toDouble / 1e6
      val cv = math.sqrt(chi2 / (n.toDouble *
        math.min(as.length - 1, bs.length - 1).toDouble))
      (name, n, as.length.toLong, bs.length.toLong,
        (as.length - 1).toLong * (bs.length - 1), rN(chi2, 4), rN(cv, 6))
    }
    val expect = Seq(
      v(base.map(_._1), base.map(_._2), "nation x segment"),
      v(base.map(_._1), base.map(_._3), "nation x priority"),
      v(base.map(_._2), base.map(_._3), "segment x priority"))
      .sortBy(_._1)
    val got = FeaturePrep.q306CramersV(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == expect, "association matrix diverged")
    got.foreach(t => assert(t._7 >= 0 && t._7 <= 1 + 1e-9))
  }
}
