package graft

import org.apache.spark.sql.functions._

import graft.operators.{Experiment, Relational}
import graft.sources.Tables

/** Round-11 third batch (q363–q365): independent sequential
  * recomputes per operator. */
class Round11gSpec extends SparkTestBase {

  test("q363 exact median equals the brute sorted order statistics") {
    val row = Relational.q363ExactMedian(spark, sf).collect().head
    val cents = Tables.lineitem(spark, sf)
      .select(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    val lo = cents((n + 1) / 2 - 1)
    val hi = cents((n + 2) / 2 - 1)
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == lo && row.getLong(2) == hi)
    assert(row.getDouble(3) == (lo + hi).toDouble / 200.0)
  }

  test("q364 Neyman allocation: weights match exact moments, the " +
      "largest-remainder top-up lands the budget exactly") {
    val rows = Experiment.q364NeymanAllocation(spark, sf).collect()
    assert(rows.map(_.getLong(5)).sum == Experiment.NeymanBudget,
      "allocations must sum to the budget")
    // weights from an independent BigInt moment recompute
    val cust = Tables.customer(spark, sf)
      .select("c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
    val byStratum = cust.groupBy(_._1).map { case (s, g) =>
      val xs = g.map(_._2)
      val n = BigInt(xs.length)
      val sx = xs.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      val s2 = (n * sxx - sx * sx).toDouble /
        (n.toDouble * n.toDouble * (n.toDouble - 1.0))
      s -> (xs.length.toLong,
        math.round(xs.length.toDouble * math.sqrt(s2)))
    }
    rows.foreach { r =>
      val (n, w) = byStratum(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(3) == w,
        s"stratum ${r.getString(0)} diverged")
      assert(r.getLong(5) - r.getLong(4) <= 1L,
        "top-up adds at most one unit")
    }
    // Neyman law: the highest-spread×size stratum gets the most
    val best = rows.maxBy(_.getLong(3))
    assert(best.getLong(5) == rows.map(_.getLong(5)).max)
  }

  test("q365 log-rank equals a sequential Mantel–Haenszel recompute " +
      "and the A/A-like fixture stays under the 5% critical value") {
    val row = Experiment.q365LogrankTest(spark, sf).collect().head
    val lifes = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .as("life")).collect()
      .map(r => (Set("1-URGENT", "2-HIGH")(r.getString(0)), r.getInt(1)))
    val ts = lifes.map(_._2).distinct.sorted
    var uM = 0L; var vM = 0L
    ts.foreach { t =>
      val atRisk = lifes.filter(_._2 >= t)
      val n = atRisk.length.toLong
      val n1 = atRisk.count(_._1).toLong
      val d = atRisk.count(_._2 == t).toLong
      val d1 = atRisk.count(r => r._1 && r._2 == t).toLong
      if (n >= 2 && d > 0) {
        uM += math.round((d1.toDouble - d.toDouble * n1 / n) * 1e6)
        vM += math.round(n1.toDouble * (n - n1) * d * (n - d) /
          (n.toDouble * n * (n - 1)) * 1e6)
      }
    }
    assert(row.getLong(0) == lifes.count(_._1).toLong)
    assert(row.getLong(2) == uM && row.getLong(3) == vM,
      s"U/V diverged: ${row.getLong(2)}/${row.getLong(3)} vs $uM/$vM")
    assert(row.getDouble(4) ==
      r6(uM.toDouble * uM / vM.toDouble / 1e6))
    // shipdate is priority-independent on this synthetic corpus: the
    // test must NOT reject at alpha = 0.05 (chi2_1 critical 3.841)
    assert(row.getDouble(4) < 3.841, s"A/A fixture rejected: $row")
  }
}
