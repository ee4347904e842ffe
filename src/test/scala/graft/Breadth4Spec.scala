package graft

import org.apache.spark.sql.functions._

import graft.operators.{Contribution, Lifecycle, Relational, TimeSeries}
import graft.sources.Tables

/** Semantics pins for the breadth-4 operators (q190–q193), each law
  * recomputed with a brute-force formulation. */
class Breadth4Spec extends SparkTestBase {

  test("q190 rolling median matches a brute per-user frame recompute") {
    val out = TimeSeries.q190RollingMedian(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2).toDouble
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    ev.groupBy(_._1).values.foreach { xs =>
      val sorted = xs.sortBy(e => (e._3, e._2))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - TimeSeries.MedianFrame), i + 1)
        val expected = median(frame.map(_._4)) / 100.0
        val got = out((sorted(i)._1, sorted(i)._2))
        assert(math.abs(got - expected) < 1e-6,
          s"user ${sorted(i)._1} event ${sorted(i)._2}")
      }
    }
  }

  test("q191 journeys conserve users and match a sequential prefix " +
      "recompute") {
    val out = Lifecycle.q191JourneyMining(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val journeys = ev.groupBy(_._1).values.map { xs =>
      xs.sortBy(e => (e._3, e._2)).take(Lifecycle.JourneyDepth)
        .map(_._4).mkString(">")
    }.toSeq
    assert(out.values.sum == journeys.length.toLong, "users conserved")
    journeys.groupBy(identity).foreach { case (j, xs) =>
      assert(out(j) == xs.length.toLong, s"journey $j")
    }
  }

  test("q192 skyline equals the brute-force dominance filter, " +
      "including tie semantics") {
    val out = Relational.q192Skyline(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        r.getInt(2)))
    val expected = parts.filter { case (_, c, s) =>
      !parts.exists { case (_, c2, s2) =>
        c2 <= c && s2 >= s && (c2 < c || s2 > s)
      }
    }.map(_._1).toSet
    assert(out == expected)
    assert(expected.nonEmpty)
  }

  test("q193 rank deltas match brute per-half revenue rankings") {
    val out = Contribution.q193RankDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val li = Tables.lineitem(spark, sf).alias("l")
      .join(Tables.orders(spark, sf).alias("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .select(col("l_partkey"), col("l_extendedprice"),
        unix_micros(col("o_orderdate")).as("us"))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        r.getLong(2)))
    val t0 = li.map(_._3).min
    val t1 = li.map(_._3).max
    def ranks(rows: Seq[(Long, Long)]): Map[Long, Int] =
      rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .zipWithIndex.map { case ((p, _), i) => p -> (i + 1) }.toMap
    val ra = ranks(li.filter(e => e._3 * 2 <= t0 + t1).map(e => (e._1, e._2)))
    val rb = ranks(li.filter(e => e._3 * 2 > t0 + t1).map(e => (e._1, e._2)))
    assert(out.nonEmpty)
    out.foreach { case (p, a, b, gain) =>
      assert(ra(p) == a && rb(p) == b && gain == a - b, s"part $p")
    }
    // the report is the true top by (gain, cents_b, part): spot-check
    // the maximal gain is not beaten by any unreported common part
    val commonGains = ra.keySet.intersect(rb.keySet)
      .map(p => ra(p) - rb(p))
    assert(out.head._4 == commonGains.max)
  }
}
