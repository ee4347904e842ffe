package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Contribution, DistributedRank}
import graft.sources.Tables

/** Round-11 fifth batch (q370–q371): sequential recomputes, plus the
  * prefix-sum primitive's partition-invariance law. */
class Round11iSpec extends SparkTestBase {

  test("q370 ABC classes equal a sequential cumulative-share recompute " +
      "and partition the part dimension") {
    val out = Contribution.q370AbcClassification(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val parts = Tables.lineitem(spark, sf)
      .groupBy("l_partkey")
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (p, c) => (-c, p) }
    val total = parts.map(_._2).sum
    var cum = 0L
    val exp = parts.map { case (_, c) =>
      cum += c
      val k = if (cum * 5 <= total * 4) "A"
        else if (cum * 20 <= total * 19) "B" else "C"
      (k, c)
    }.groupBy(_._1).map { case (k, g) =>
      k -> (g.size.toLong, g.map(_._2).sum) }
    assert(out == exp)
    assert(out.values.map(_._1).sum == parts.length.toLong)
    // value concentration law: A holds ≥ its count share of revenue
    val (na, ca) = out("A")
    assert(ca.toDouble / total >= na.toDouble / parts.length)
  }

  test("q371 duplicate-invoice scan equals a sequential pair recompute") {
    val row = Audit.q371DuplicateInvoice(spark, sf).collect().head
    val ords = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)"),
        col("o_orderkey"), to_date(col("o_orderdate"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDate(3).toLocalDate))
    val pairs = ords.groupBy(o => (o._1, o._2)).toSeq.flatMap {
      case (_, g) =>
        g.toSeq.flatMap(a => g.toSeq
          .filter(b => a._3 < b._3 &&
            math.abs(java.time.temporal.ChronoUnit.DAYS
              .between(a._4, b._4)) <= Audit.DupInvoiceWindowDays)
          .map(b => (a, b)))
    }
    val held = pairs.map { case (a, b) =>
      if (b._4.isAfter(a._4) || (b._4 == a._4 && b._3 > a._3)) b else a
    }.distinct
    assert(row.getLong(0) == pairs.length.toLong)
    assert(row.getLong(1) == held.length.toLong)
    assert(row.getLong(2) == held.map(_._2).sum)
  }

  test("q372 horizon tripwire matches a sequential recompute and the " +
      "capped share is the honest (large) number on this corpus") {
    val row = graft.operators.Contribution.q372HorizonAudit(spark, sf)
      .collect().head
    val spans = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)"),
        to_date(col("l_shipdate")))
      .join(Tables.orders(spark, sf)
        .select(col("o_orderkey"), to_date(col("o_orderdate"))),
        col("l_orderkey") === col("o_orderkey"))
      .drop("l_orderkey", "o_orderkey").collect()
      .map { r =>
        val (c, ship, ord) =
          (r.getLong(0), r.getDate(1).toLocalDate, r.getDate(2).toLocalDate)
        val d = math.abs(
          java.time.temporal.ChronoUnit.DAYS.between(ship, ord)) + 1
        (c, d)
      }
    val h = graft.operators.Contribution.RecognitionHorizonDays
    assert(row.getLong(0) == spans.length.toLong)
    assert(row.getLong(1) == spans.count(_._2 > h).toLong)
    // the synthetic corpus's independent dates make the cap bind on
    // most lines — the tripwire's value is that this is REPORTED
    assert(row.getDouble(2) > 0.5)
  }

  test("q373 quantile ladder equals brute sorted order statistics") {
    val out = graft.operators.Relational.q373QuantileLadder(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = Tables.orders(spark, sf)
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length.toLong
    graft.operators.Relational.QuantileLadder.foreach { p =>
      val r = ((p * n + 999) / 1000).toInt
      assert(out(p) == cents(r - 1), s"p$p diverged")
    }
  }

  test("withRunningTotal is invariant to the input partitioning") {
    import graft.operators.DistributedRank
    val byPart = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .as("cents"))
    def run(df: org.apache.spark.sql.DataFrame) =
      DistributedRank.withRunningTotal(df, "cents", "cum",
        col("cents").desc, col("part").asc)
        .select("part", "cum").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run(byPart.repartition(13)) == run(byPart.coalesce(1)))
  }
}
