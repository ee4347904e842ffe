package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Contribution, Relational}
import graft.sources.Tables

/** Round-11 fourth batch (q366–q369): sequential recomputes and the
  * penny-reconciliation laws. */
class Round11hSpec extends SparkTestBase {

  test("q366 grouped median equals per-segment brute order statistics") {
    val out = Relational.q366GroupedMedian(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val vals = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val exp = vals.groupBy(_._1).map { case (s, g) =>
      val xs = g.map(_._2).sorted
      val n = xs.length
      s -> (n.toLong, xs((n + 1) / 2 - 1), xs((n + 2) / 2 - 1))
    }
    assert(out == exp)
  }

  test("q367 penny proration: every order reconciles exactly and the " +
      "aggregate matches a sequential allocator") {
    val row = Audit.q367PennyProration(spark, sf).collect().head
    assert(row.getBoolean(3), "some order did not reconcile to the penny")
    val lines = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val totals = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var topped = 0L
    lines.groupBy(_._1).foreach { case (ok, g) =>
      val total = totals(ok)
      val sumL = g.map(_._3).sum
      // duplicate (order, linenumber) rows exist in this corpus — rank
      // by INDEX, never by a Set of line numbers
      val based = g.map { case (_, ln, c) =>
        (ln, total * c / sumL, total * c % sumL)
      }.zipWithIndex
      val short = total - based.map(_._1._2).sum
      val winners = based
        .sortBy { case ((ln, _, rem), i) => (-rem, ln, i) }
        .take(short.toInt).map(_._2).toSet
      topped += winners.size
      val alloc = based.map { case ((_, b, _), i) =>
        b + (if (winners(i)) 1L else 0L) }.sum
      assert(alloc == total, s"order $ok off by ${total - alloc}")
    }
    assert(row.getLong(2) == topped)
    // 27 line-less orders exist at sf0.001 — the audit covers orders
    // WITH lines (the allocation subjects)
    assert(row.getLong(0) == lines.map(_._1).distinct.length.toLong)
  }

  test("q368 revenue recognition reconciles to the fact table to the " +
      "penny and shares sum to 1") {
    val rows = Contribution.q368RevenueRecognition(spark, sf).collect()
    val recognized = rows.map(_.getLong(1)).sum
    val factCents = Tables.lineitem(spark, sf)
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)")))
      .collect().head.getLong(0)
    assert(recognized == factCents,
      s"ledger off by ${factCents - recognized} cents")
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3)
    // months are contiguous in the output
    val months = rows.map(_.getString(0))
    assert(months.sorted.toSeq == months.toSeq)
  }

  test("q369 open-order aging equals a sequential snapshot recompute") {
    val out = Contribution.q369OpenOrderAging(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), to_date(col("o_orderdate")),
        expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val fulfil = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(max(to_date(col("l_shipdate"))))
      .collect().map(r => r.getLong(0) -> r.getDate(1).toLocalDate).toMap
    val dmin = orders.map(_._2).min
    val dmax = orders.map(_._2).max
    val snap = dmin.plusDays(
      java.time.temporal.ChronoUnit.DAYS.between(dmin, dmax) / 2)
    // orders with zero line items (27 exist at sf0.001) are out of
    // scope, mirroring the query's inner join to the fulfilment fold
    val open = orders.filter { case (k, d, _) =>
      fulfil.contains(k) && !d.isAfter(snap) && fulfil(k).isAfter(snap)
    }
    def bucket(age: Long): String =
      if (age <= 7) "a_0_7" else if (age <= 30) "b_8_30"
      else if (age <= 60) "c_31_60" else "d_61_plus"
    val exp = open.groupBy { case (_, d, _) =>
      bucket(java.time.temporal.ChronoUnit.DAYS.between(d, snap))
    }.map { case (b, g) => b -> (g.size.toLong, g.map(_._3).sum) }
    Seq("a_0_7", "b_8_30", "c_31_60", "d_61_plus").foreach { b =>
      assert(out(b) == exp.getOrElse(b, (0L, 0L)), s"bucket $b diverged")
    }
  }
}
