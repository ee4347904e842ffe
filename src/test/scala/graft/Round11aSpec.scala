package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Dedup, Drift, Lifecycle}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-sixth batch
  * (q331 price elasticity, q332 LSH bucket audit, q333 priority SLA,
  * q334 DKW median band). */
class Round11aSpec extends SparkTestBase {

  test("q331 elasticity equals a sequential quantized-OLS replay") {
    val ptype = Tables.part(spark, sf).select("p_partkey", "p_type")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val xs = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_extendedprice", "l_quantity").collect()
      .map { r =>
        (ptype(r.getLong(0)),
          micro(math.log(r.getDouble(1) / r.getDouble(2))),
          micro(math.log(r.getDouble(2))))
      }
    val got = Contribution.q331PriceElasticity(spark, sf).collect()
    got.foreach { r =>
      val rows = xs.filter(_._1 == r.getString(0))
      val k = rows.length.toLong
      val sx = rows.map(_._2).sum
      val sy = rows.map(_._3).sum
      val sxy = rows.map(t => BigDecimal(t._2) * BigDecimal(t._3)).sum
      val sxx = rows.map(t => BigDecimal(t._2) * BigDecimal(t._2)).sum
      val syy = rows.map(t => BigDecimal(t._3) * BigDecimal(t._3)).sum
      val num = k.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val denx = k.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val deny = k.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      assert(r.getLong(1) == k)
      assert(r.getDouble(2) == rN(num / denx, 6), s"${r.getString(0)}")
      assert(r.getDouble(3) == rN(num * num / (denx * deny), 6))
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1 + 1e-9)
    }
  }

  test("q332 bucket audit is internally consistent with the q32 index") {
    val got = Dedup.q332LshBucketAudit(spark, sf).collect()
    assert(got.length == 4) // 4 bands
    val nDocs = got.head.getLong(1)
    got.foreach { r =>
      // every band indexes every document exactly once
      assert(r.getLong(1) == nDocs)
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(4) ==
        rN(r.getLong(3).toDouble / r.getLong(1), 6))
      // expected probe is at least 1 (every doc sees its own bucket)
      // and at most the hottest bucket
      assert(r.getDouble(5) >= 1.0 - 1e-9)
      assert(r.getDouble(5) <= r.getLong(3) + 1e-6)
    }
  }

  test("q333 priority SLA equals a sequential replay") {
    val prio = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority", "o_orderdate").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getTimestamp(2).toLocalDateTime.toLocalDate))
      .toMap
    val lags = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), to_date(col("l_shipdate"))).collect()
      .map { r =>
        val (p, od) = prio(r.getLong(0))
        (p, java.time.temporal.ChronoUnit.DAYS
          .between(od, r.getDate(1).toLocalDate))
      }
    val p90All = pct(lags.map(_._2), 0.9)
    val got = Lifecycle.q333PrioritySla(spark, sf).collect()
    got.foreach { r =>
      val ls = lags.filter(_._1 == r.getString(0)).map(_._2)
      assert(r.getLong(1) == ls.length.toLong)
      assert(r.getDouble(2) == rN(pct(ls, 0.5), 4))
      assert(r.getDouble(3) == rN(pct(ls, 0.9), 4))
      assert(r.getDouble(4) == rN(p90All, 4))
      assert(r.getBoolean(5) == (pct(ls, 0.9) <= p90All))
    }
  }

  test("q334 DKW band equals a sequential CDF-inversion replay and " +
      "brackets the median") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = Drift.q334DkwMedianBand(spark, sf).collect()
    got.foreach { r =>
      val cs = ev.filter(_._1 == r.getString(0)).map(_._2)
      val n = cs.length.toLong
      val eps = math.sqrt(Drift.DkwLn40 / (2.0 * n))
      val sorted = cs.sorted
      val hist = sorted.distinct.map(v => (v, cs.count(_ <= v).toLong))
      def inv(p: Double): Long =
        hist.find(_._2.toDouble >= p * n).get._1
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == rN(pct(cs, 0.5) / 100, 4))
      assert(r.getDouble(3) == rN(inv(0.5 - eps).toDouble / 100, 2))
      assert(r.getDouble(4) == rN(inv(0.5 + eps).toDouble / 100, 2))
      // the band brackets the median
      assert(r.getDouble(3) <= r.getDouble(2) + 1e-9)
      assert(r.getDouble(4) >= r.getDouble(2) - 1e-9)
    }
  }
}
