package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Coreset, Evaluation, Governance, InfoTheory}
import graft.sources.Tables

/** Independent-formulation semantics pins for the round-10 fourth
  * batch (q241 surprisal anomaly, q242 Brier decomposition, q243
  * k-center coreset): sequential Scala replays plus the analytic laws
  * — the Murphy identity for q242 and the farthest-point monotonicity
  * for q243. */
class Round10dSpec extends SparkTestBase {

  private def qNano(x: Double): Long =
    BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  test("q241 surprisal anomaly equals a sequential model-join replay " +
      "and scores are nonnegative") {
    val out = InfoTheory.q241SurprisalAnomaly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val userPairs = evs.groupBy(_._1).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      u -> ordered.zip(ordered.drop(1))
    }
    val allPairs = userPairs.values.flatten.toSeq
    val nij = allPairs.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val ni = nij.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    val sMicro = nij.map { case ((a, b), c) =>
      (a, b) -> micro(-log2(c.toDouble / ni(a).toDouble)) }
    val scored = userPairs.collect { case (u, ps) if ps.nonEmpty =>
      val sum = ps.map(sMicro).sum
      (u, ps.length.toLong, sum.toDouble / ps.length.toDouble / 1e6)
    }.toSeq
    val top = scored.sortBy(s => (-s._3, s._1))
      .take(InfoTheory.AnomalyTopK)
      .map(s => (s._1, s._2, r6(s._3)))
    assert(out.toSeq == top)
    assert(out.forall(_._3 >= 0.0), "surprisal is nonnegative")
  }

  test("q242 Brier decomposition equals a sequential recompute and " +
      "satisfies the Murphy identity") {
    val out = Evaluation.q242BrierDecomposition(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)), (r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8)))).toMap
    val evs = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val perUser = evs.groupBy(_._1).map { case (u, rs) =>
      (u, rs.map(r => math.round(r._3 * 100)).sum,
        rs.count(_._2 == "purchase").toLong)
    }.toSeq
    val med = pct(perUser.map(_._3.toDouble), 0.5)
    val users = perUser.map(u => (u._1, u._2,
      if (u._3.toDouble > med) 1L else 0L,
      Hashing.md5Hash60Value(s"brier:${u._1}") % 2 == 0))
    val cal = users.filter(_._4)
    val probes = (1 until Evaluation.BrierBins)
      .map(_.toDouble / Evaluation.BrierBins)
    val edges = probes.map(p =>
      r6(pct(cal.map(_._2.toDouble), p)))
    def binOf(c: Long): Int = edges.count(c.toDouble >= _)
    val fMap = cal.groupBy(u => binOf(u._2)).map { case (b, us) =>
      b -> (us.length.toLong, us.map(_._3).sum,
        us.map(_._3).sum.toDouble / us.length.toDouble)
    }
    val ev = users.filterNot(_._4)
    val evMap = ev.groupBy(u => binOf(u._2)).map { case (b, us) =>
      b -> (us.length.toLong, us.map(_._3).sum)
    }.filter { case (b, _) => fMap.contains(b) }
    val nTotal = evMap.values.map(_._1).sum
    val posTotal = evMap.values.map(_._2).sum
    val ybar = posTotal.toDouble / nTotal.toDouble
    var relMicro = 0L; var resMicro = 0L; var brierMicro = 0L
    evMap.toSeq.sortBy(_._1).foreach { case (b, (nEv, posEv)) =>
      val f = fMap(b)._3
      val yk = posEv.toDouble / nEv.toDouble
      relMicro += qNano(nEv * (f - yk) * (f - yk))
      resMicro += qNano(nEv * (yk - ybar) * (yk - ybar))
      brierMicro += qNano(nEv * f * f - 2 * f * posEv + posEv)
      assert(out(b)._1 == ((fMap(b)._1, r6(f), nEv, r6(yk))),
        s"bin $b cells diverged")
    }
    val rel = r6(relMicro.toDouble / 1e9 / nTotal)
    val res = r6(resMicro.toDouble / 1e9 / nTotal)
    val unc = r6(ybar * (1.0 - ybar))
    val brier = r6(brierMicro.toDouble / 1e9 / nTotal)
    out.values.foreach { case (_, totals) =>
      assert(totals == ((rel, res, unc, brier)), "summary diverged")
    }
    assert(math.abs(brier - (rel - res + unc)) < 5e-6,
      "Murphy identity: Brier = REL - RES + UNC")
  }

  test("q244 incremental surprisal equals the full per-user recompute " +
      "(the oracle proves incremental == full; this pins the Scala path)") {
    val out = InfoTheory.q244IncrementalSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val userSeqs = evs.groupBy(_._1).map { case (u, rows) =>
      u -> rows.sortBy(r => (r._2, r._3)).map(_._4)
    }
    val allPairs = userSeqs.values.flatMap(o => o.zip(o.drop(1))).toSeq
    val nij = allPairs.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    val ni = nij.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    val sMicro = nij.map { case ((a, b), c) =>
      (a, b) -> micro(-log2(c.toDouble / ni(a).toDouble)) }
    val expected = userSeqs.collect {
      case (u, o) if o.length >= 2 =>
        val trans = o.zip(o.drop(1))
        u -> (trans.length.toLong,
          r6(trans.map(sMicro).sum.toDouble / trans.length / 1e6))
    }
    assert(out == expected.toMap)
  }

  test("q245 clip calibration equals a sequential recompute and " +
      "retained mass is nondecreasing in the clip level") {
    val out = Governance.q245ClipCalibration(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val evs = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val totals = evs.groupBy(_._1).map { case (_, rs) =>
      rs.map(r => math.round(r._2 * 100)).sum }.toSeq
    val expected = Governance.ClipLadderBp.map { bp =>
      val c = BigDecimal(pct(totals.map(_.toDouble), bp / 10000.0))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val clippedSum = totals.map(x => math.min(x, c)).sum
      (s"p${bp / 100}", c, totals.length.toLong,
        totals.count(_ > c).toLong,
        r6(totals.count(_ > c).toDouble / totals.length),
        r6(clippedSum.toDouble / totals.sum.toDouble))
    }.sortBy(_._2)
    assert(out.toSeq == expected)
    val masses = out.map(_._6)
    assert(masses.zip(masses.drop(1)).forall { case (a, b) => b >= a },
      "retained mass must be nondecreasing in the clip level")
  }

  test("q243 k-center equals a sequential farthest-point replay; pick " +
      "distances are nonincreasing and bound the covering radius") {
    val out = Coreset.q243KCenterCoreset(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(v =>
        BigDecimal(v.toDouble * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)))
      .sortBy(_._1)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
    val seed = vecs.head
    var mind = vecs.map(v => (v._1, v._2, d2(v._2, seed._2)))
    val chosen = scala.collection.mutable.ArrayBuffer[
      (Int, Long, Option[Long])]((1, seed._1, None))
    for (r <- 2 to Coreset.CoresetK) {
      val pick = mind.minBy(v => (-v._3, v._1))
      chosen += ((r, pick._1, Some(pick._3)))
      mind = mind.map(v => (v._1, v._2, math.min(v._3, d2(v._2, pick._2))))
    }
    val cover2 = mind.map(_._3).max
    assert(out.toSeq == chosen.toSeq.map(c => (c._1, c._2, c._3, cover2)))
    val picks = chosen.toSeq.flatMap(_._3)
    assert(picks.zip(picks.drop(1)).forall { case (a, b) => b <= a },
      "farthest-point pick distances are nonincreasing")
    assert(cover2 <= picks.last,
      "covering radius is bounded by the last pick distance")
    assert(chosen.map(_._2).distinct.length == chosen.length,
      "chosen centers are distinct")
  }
}
