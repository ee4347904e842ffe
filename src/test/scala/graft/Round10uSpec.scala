package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Experiment, Lifecycle, StorageLayout}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twentieth batch
  * (q307 churn Wilson CIs, q308 duration planner, q309 Bloom advisor,
  * q310 supplier HHI trend). */
class Round10uSpec extends SparkTestBase {

  test("q307 Wilson intervals bracket the q302 point rates and match " +
      "a sequential recompute") {
    val pts = Lifecycle.q302ChurnLabels(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    val z = Lifecycle.WilsonZ
    val got = Lifecycle.q307ChurnWilson(spark, sf).collect()
    assert(got.length == pts.size)
    got.foreach { r =>
      val (n, k) = pts(r.getInt(0))
      assert(r.getLong(1) == n && r.getLong(2) == k)
      val p = k.toDouble / n
      val denom = 1.0 + z * z / n
      val center = p + z * z / (2.0 * n)
      val half = z * math.sqrt(p * (1.0 - p) / n +
        z * z / (4.0 * n * n))
      assert(r.getDouble(4) == rN((center - half) / denom, 6) + 0.0)
      assert(r.getDouble(5) == rN((center + half) / denom, 6) + 0.0)
      // the interval brackets the point estimate and stays in [0, 1]
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9)
      assert(r.getDouble(5) >= r.getDouble(3) - 1e-9)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(5) <= 1.0 + 1e-9)
    }
  }

  test("q308 duration planner equals a sequential recompute and is " +
      "consistent with the q280 MDE") {
    val got = Experiment.q308DurationPlanner(spark, sf).collect()
    val mde = Experiment.q280AbPower(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    got.foreach { r =>
      val tpe = r.getString(0)
      assert(r.getDouble(6) > 0, s"$tpe days")
      // consistency law: if the current MDE (dollars) already beats
      // the target delta, the observed window must be long enough,
      // and vice versa (same z, same variances, equal-allocation
      // approximation makes this monotone for near-balanced arms)
      val target = r.getDouble(4)
      if (mde(tpe) <= target * 0.7)
        assert(r.getBoolean(7), s"$tpe should be enough")
      if (mde(tpe) >= target * 1.5)
        assert(!r.getBoolean(7), s"$tpe should need more")
    }
  }

  test("q309 Bloom advisor equals a sequential ndv replay") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey").collect()
    val oc = Tables.orders(spark, sf).select("o_custkey").collect()
      .map(_.getLong(0))
    val keyed: Map[String, Seq[Long]] = Map(
      "l_orderkey" -> li.map(_.getLong(0)).toSeq,
      "l_partkey" -> li.map(_.getLong(1)).toSeq,
      "l_suppkey" -> li.map(_.getLong(2)).toSeq,
      "o_custkey" -> oc.toSeq)
    val got = StorageLayout.q309BloomAdvisor(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == keyed.keys.toSeq.sorted)
    got.foreach { r =>
      val vs = keyed(r.getString(0))
      val ndv = vs.distinct.length.toLong
      assert(r.getLong(1) == vs.length.toLong)
      assert(r.getLong(2) == ndv)
      assert(r.getDouble(3) == rN(ndv.toDouble *
        StorageLayout.BloomBitsPerElem / 8 / 1024 / 1024, 4))
      assert(r.getInt(4) == StorageLayout.BloomHashes)
      assert(r.getDouble(5) == rN(ndv.toDouble / vs.length, 6))
    }
  }

  test("q310 supplier HHI equals a sequential replay and effective-N " +
      "is bounded by the supplier count") {
    val rev = Tables.lineitem(spark, sf)
      .select(col("l_shipdate"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("c"))
      .collect()
      .map { r =>
        val d = r.getTimestamp(0).toLocalDateTime
        (s"${d.getYear}-Q${(d.getMonthValue + 2) / 3}", r.getLong(1),
          r.getLong(2))
      }
    val got = Contribution.q310SupplierHhi(spark, sf).collect()
    val byQ = rev.groupBy(_._1)
    assert(got.map(_.getString(0)).toSeq == byQ.keys.toSeq.sorted)
    got.foreach { r =>
      val sup = byQ(r.getString(0)).groupBy(_._2)
        .map(_._2.map(_._3).sum).toSeq
      val rt = sup.sum
      val s2 = sup.map(x => BigDecimal(x) * BigDecimal(x)).sum
      val hhi = s2.toDouble / (rt.toDouble * rt.toDouble)
      assert(r.getLong(1) == sup.length.toLong)
      assert(r.getDouble(2) == rN(rt.toDouble / 100, 2))
      assert(r.getDouble(3) == rN(hhi, 8))
      assert(r.getDouble(4) == rN(1.0 / hhi, 4))
      assert(r.getDouble(5) == rN(sup.max.toDouble / rt, 6))
      // 1 <= effective-N <= n_suppliers
      assert(r.getDouble(4) >= 1.0 - 1e-9)
      assert(r.getDouble(4) <= sup.length + 1e-6)
    }
  }
}
