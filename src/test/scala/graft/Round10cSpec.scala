package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, Calibration, Lifecycle, Pca, TimeSeries2, Vocabulary}
import graft.sources.Tables

/** Independent-formulation semantics pins for the round-10 third batch
  * (q235 Kaplan–Meier, q236 Mann–Kendall, q237 isotonic/PAV, q238
  * dimension health, q239 FD audit, q240 Zipf slope). q237's replay is
  * deliberately a DIFFERENT algorithm (the sequential stack-based
  * pool-adjacent-violators merge) than the registered minimax-form
  * query — agreement pins the closed form to the textbook algorithm. */
class Round10cSpec extends SparkTestBase {

  test("q235 Kaplan-Meier equals a sequential recompute; the curve is " +
      "nonincreasing and at-risk counts conserve users") {
    val out = Lifecycle.q235KmSurvival(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)),
        (r.getDouble(4), r.getDouble(5))))
    val users = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(to_date(min(col("ts"))).as("f"), to_date(max(col("ts"))).as("l"))
      .collect()
      .map(r => (r.getDate(1).toLocalDate, r.getDate(2).toLocalDate))
    val obsEnd = users.map(_._2).max
    val durs = users.map { case (f, l) =>
      (java.time.temporal.ChronoUnit.DAYS.between(f, l),
        java.time.temporal.ChronoUnit.DAYS.between(l, obsEnd) >=
          Lifecycle.CensorHorizonDays)
    }
    val hist = durs.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, rs) =>
      (t, rs.count(_._2).toLong, rs.count(!_._2).toLong)
    }
    val nTotal = users.length.toLong
    var atRisk = nTotal
    var prod = 1.0
    val expected = hist.map { case (t, d, c) =>
      val factor = r6(1.0 - d.toDouble / atRisk.toDouble)
      prod = prod * factor
      val row = t -> ((atRisk, d, c), (factor, r6(prod)))
      atRisk -= d + c
      row
    }
    assert(out.toSeq == expected)
    assert(atRisk == 0L, "at-risk exhausts exactly to zero")
    val curve = out.map(_._2._2._2)
    assert(curve.zip(curve.drop(1)).forall { case (a, b) => b <= a },
      "KM survival must be nonincreasing")
  }

  test("q236 Mann-Kendall equals a sequential recompute and |S| is " +
      "bounded by the pair count") {
    val out = TimeSeries2.q236MannKendall(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)), (r.getDouble(4), r.getDouble(5), r.getString(6))))
      .toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val daily = rows.groupBy(r =>
        java.time.temporal.ChronoUnit.DAYS.between(d0, r._2))
        .map { case (d, rs) => (d, rs.length.toLong) }.toSeq.sortBy(_._1)
      val pairs = for {
        i <- daily.indices; j <- daily.indices if i < j
      } yield math.signum(daily(j)._2 - daily(i)._2)
      val s = pairs.sum
      val n = daily.length.toLong
      val tiePoly = daily.groupBy(_._2).values
        .map(g => { val tt = g.size.toLong; tt * (tt - 1) * (2 * tt + 5) })
        .sum
      val varS = (n * (n - 1) * (2 * n + 5) - tiePoly).toDouble / 18.0
      val z =
        if (s > 0) (s - 1).toDouble / math.sqrt(varS)
        else if (s < 0) (s + 1).toDouble / math.sqrt(varS)
        else 0.0
      val trend =
        if (z > TimeSeries2.MkZCrit) "increasing"
        else if (z < -TimeSeries2.MkZCrit) "decreasing"
        else "none"
      assert(out(t) == (((n, pairs.length.toLong, s),
        (r4(varS), r6(z), trend))), s"type $t diverged")
      assert(math.abs(s) <= pairs.length, s"|S| bound violated for $t")
    }
  }

  test("q237 minimax isotonic fit equals the sequential stack-based " +
      "PAV algorithm; the curve is monotone and preserves total mass") {
    val out = Calibration.q237IsotonicCalibrate(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)),
        (r.getDouble(3), r.getDouble(4)))).toMap
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val perUser = evs.groupBy(_._1).map { case (u, rs) =>
      (u, rs.map(r => math.round(r._3 * 100)).sum,
        rs.count(_._2 == "purchase").toLong)
    }.toSeq
    val med = pct(perUser.map(_._3.toDouble), 0.5)
    val users = perUser.map(u => (u._1, u._2,
      if (u._3.toDouble > med) 1L else 0L)).sortBy(u => (u._2, u._1))
    // ntile: first (n mod k) bins get ceil(n/k) users
    val n = users.length
    val k = 10
    val base = n / k
    val sizes = (1 to k).map(b => if (b <= n % k) base + 1 else base)
    val binned = sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex.map {
      case ((off, sz), ix) =>
        val chunk = users.slice(off, off + sz)
        (ix + 1, chunk.length.toLong, chunk.map(_._3).sum)
    }
    // textbook PAV: merge adjacent pools while a violation exists
    case class Pool(pos: Long, w: Long)
    val pools = scala.collection.mutable.ArrayBuffer.empty[Pool]
    val members = scala.collection.mutable.ArrayBuffer.empty[Int]
    binned.foreach { case (_, nu, np) =>
      pools += Pool(np, nu); members += 1
      while (pools.length >= 2 && {
        val a = pools(pools.length - 2); val b = pools.last
        a.pos.toDouble * b.w >= b.pos.toDouble * a.w  // rate_a >= rate_b
      }) {
        val b = pools.remove(pools.length - 1)
        val a = pools.remove(pools.length - 1)
        pools += Pool(a.pos + b.pos, a.w + b.w)
        val mb = members.remove(members.length - 1)
        val ma = members.remove(members.length - 1)
        members += ma + mb
      }
    }
    val isoSeq = pools.toSeq.zip(members.toSeq).flatMap { case (p, m) =>
      Seq.fill(m)(p.pos.toDouble / p.w.toDouble)
    }
    binned.zip(isoSeq).foreach { case ((bin, nu, np), iso) =>
      assert(out(bin) == (((nu, np),
        (r6(np.toDouble / nu.toDouble), r6(iso)))), s"bin $bin diverged")
    }
    assert(isoSeq.zip(isoSeq.drop(1)).forall { case (a, b) => a <= b + 1e-12 },
      "isotonic curve must be nondecreasing")
    val mass = binned.zip(isoSeq).map { case ((_, nu, _), iso) => iso * nu }.sum
    assert(math.abs(mass - binned.map(_._3).sum.toDouble) < 1e-6,
      "PAV preserves total positive mass")
  }

  test("q238 dimension health equals a sequential recompute; variances " +
      "are nonnegative and fractions bounded") {
    val out = Pca.q238DimHealth(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)), (r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getBoolean(8)))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v =>
        BigDecimal(v.toDouble * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val dim = vecs.head.length
    val profile = (0 until dim).map { p =>
      val col = vecs.map(_(p))
      val nn = col.length.toLong
      val s = col.sum
      val ss = col.map(v => v * v).sum
      val variance = (nn.toDouble * ss.toDouble - s.toDouble * s.toDouble) /
        (nn.toDouble * nn.toDouble) / 1e12
      (p, nn, s, variance, col.min, col.max,
        col.count(_ == 0L).toLong)
    }
    val medVar = pct(profile.map(_._4), 0.5)
    profile.foreach { case (p, nn, s, variance, vmin, vmax, nz) =>
      assert(out(p) == (((nn, r6(s.toDouble / nn / 1e6), r6(variance),
        r6(math.sqrt(variance))), (r6(vmin.toDouble / 1e6),
        r6(vmax.toDouble / 1e6), r6(nz.toDouble / nn),
        variance * 100.0 < medVar))), s"pos $p diverged")
      assert(variance >= -1e-12 && nz.toDouble / nn <= 1.0)
    }
  }

  test("q239 FD audit equals a sequential g3 recompute and separates " +
      "the true dependencies from the false ones") {
    val out = Audit.q239FdAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)),
          (r.getDouble(7), r.getBoolean(8)))).toMap
    assert(out.size == Audit.FdCandidates.size)
    Audit.FdCandidates.foreach { case (rel, lhs, rhs) =>
      val rows = (rel match {
        case "nation" => Tables.nation(spark, sf)
        case "part" => Tables.part(spark, sf)
        case "customer" => Tables.customer(spark, sf)
        case "orders" => Tables.orders(spark, sf)
        case "lineitem" => Tables.lineitem(spark, sf)
        case "events" => Tables.events(spark, sf)
      }).select(col(lhs).cast("string"), col(rhs).cast("string"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      val byA = rows.groupBy(_._1)
      val nRows = rows.length.toLong
      val nGroups = byA.size.toLong
      val fixes = byA.values.map { g =>
        g.length.toLong - g.groupBy(_._2).values.map(_.length).max
      }
      val rowsToFix = fixes.sum
      val violating = fixes.count(_ > 0L).toLong
      assert(out((rel, lhs, rhs)) == (((nRows, nGroups, violating,
        rowsToFix), (r6(rowsToFix.toDouble / nRows.toDouble),
        rowsToFix == 0L))), s"$rel.$lhs->$rhs diverged")
    }
    // the fixture mix: key-style and genuine FDs hold, the rest fail
    assert(out(("nation", "n_name", "n_regionkey"))._2._2)
    assert(out(("orders", "o_orderkey", "o_orderstatus"))._2._2)
    assert(!out(("events", "event_type", "user_id"))._2._2)
  }

  test("q240 Zipf slope equals a sequential quantized-OLS recompute " +
      "and is negative on every source") {
    val out = Vocabulary.q240ZipfSlope(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    docs.groupBy(_._1).foreach { case (src, rows) =>
      val hist = rows.flatMap(_._2.trim.split(" ", -1).filter(_.nonEmpty))
        .groupBy(identity).map { case (w, ws) => (w, ws.length.toLong) }
        .toSeq
      val ranked = hist.sortBy { case (w, c) => (-c, w) }
        .take(Vocabulary.ZipfTopK).zipWithIndex
        .map { case ((_, c), ix) =>
          (micro(math.log((ix + 1).toDouble)), micro(math.log(c.toDouble)))
        }
      val kk = ranked.length.toLong
      val sx = ranked.map(_._1).sum; val sy = ranked.map(_._2).sum
      val sxy = ranked.map(p => p._1 * p._2).sum
      val sxx = ranked.map(p => p._1 * p._1).sum
      val syy = ranked.map(p => p._2 * p._2).sum
      val num = kk.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val denx = kk.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val deny = kk.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      if (deny == 0.0 || kk < 2) {
        // constant-frequency vocabulary (all counts equal): no defined
        // slope — the query filters the source out, like q178's guard
        assert(!out.contains(src), s"degenerate source $src must be absent")
      } else {
        val slope = r6(num / denx)
        assert(out(src) == ((kk, (slope, r6((num * num) / (denx * deny))))),
          s"source $src diverged")
        assert(slope < 0.0, s"rank-frequency slope must be negative ($src)")
      }
    }
  }
}
