package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Dedup, Experiment, TimeSeries2}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 sixth batch (q249
  * threshold curve, q250 overdispersion, q251 Brown–Forsythe): each
  * replayed sequentially from the raw fixture — q249's replay carries
  * its own minhash permutation arithmetic and treats band equality as
  * 4-tuple equality (no md5), so the engines' band-signature path is
  * itself under test. */
class Round10fSpec extends SparkTestBase {

  private val P = 1000000007L
  private def perm(j: Int, x: Long): Long = {
    val a = (2654435761L * (j + 1)) % P
    val b = (123456789L * (j + 1) + 987654321L) % P
    (a * (x % P) + b) % P
  }

  test("q249 threshold curve equals a sequential minhash/Jaccard " +
      "replay; flagged counts are nonincreasing in the threshold") {
    val out = Dedup.q249ThresholdCurve(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)),
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shingles: Map[Long, Set[String]] = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      id -> (if (ws.length >= 3)
        (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
      else Set.empty[String])
    }.toMap
    val sigs: Map[Long, Seq[Long]] = shingles.collect {
      case (id, sh) if sh.nonEmpty =>
        val xs = sh.toSeq.map(Hashing.md5Hash60Value)
        id -> (0 to 15).map(j => xs.map(x => perm(j, x)).min)
    }
    val cands = (for {
      (i1, s1) <- sigs.toSeq; (i2, s2) <- sigs.toSeq if i1 < i2
      if (0 to 3).exists(b =>
        (0 to 3).forall(k => s1(b * 4 + k) == s2(b * 4 + k)))
    } yield (i1, i2)).toSeq
    val rows = cands.map { case (i1, i2) =>
      val k16 = (0 to 15).count(j => sigs(i1)(j) == sigs(i2)(j)).toLong
      val ni = (shingles(i1) intersect shingles(i2)).size.toLong
      val un = shingles(i1).size + shingles(i2).size - ni
      (k16, ni, un)
    }
    Dedup.CurveThresholdsPct.foreach { tau =>
      val est = rows.count(r => r._1 * 100 >= tau * 16).toLong
      val exact = rows.count(r => r._2 * 100 >= tau * r._3).toLong
      val tp = rows.count(r => r._1 * 100 >= tau * 16 &&
        r._2 * 100 >= tau * r._3).toLong
      val prec = if (est > 0) Some(r6(tp.toDouble / est)) else None
      val rec = if (exact > 0) Some(r6(tp.toDouble / exact)) else None
      assert(out(tau) == (((rows.length.toLong, est, exact, tp),
        (prec, rec))), s"tau $tau diverged")
    }
    val flagged = Dedup.CurveThresholdsPct.map(t => out(t)._1._2)
    assert(flagged.zip(flagged.drop(1)).forall { case (a, b) => b <= a },
      "est-flagged counts nonincreasing in tau")
  }

  test("q250 overdispersion equals a sequential recompute and D > 0") {
    val out = TimeSeries2.q250Overdispersion(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1)), (r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts"))).collect()
      .map(r => (r.getString(0), r.getDate(1).toString))
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val daily = rows.groupBy(_._2).map(_._2.size.toLong).toSeq
      val k = daily.length.toLong
      if (k >= 2) {
        val s = daily.sum
        val q = daily.map(n => n * n).sum
        val mean = s.toDouble / k
        val variance = (q.toDouble - s.toDouble * mean) / (k - 1)
        val d = r6(variance / mean)
        val verdict =
          if (d < 2.0) "poisson_like"
          else if (d < 5.0) "moderate" else "bursty"
        assert(out(t) == ((k, (r6(mean), r6(variance), d, verdict))),
          s"type $t diverged")
        assert(d > 0.0)
      } else assert(!out.contains(t))
    }
  }

  test("q251 Brown-Forsythe equals a sequential recompute on exact " +
      "half-cent deviations") {
    val out = Experiment.q251BrownForsythe(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)),
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getString(6))))
      .toMap
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    val cut = (evs.map(_._2).min + evs.map(_._2).max) / 2
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val (ref, cur) = rows.partition(_._2 < cut)
      val medR = pct(ref.map(_._3.toDouble), 0.5)
      val medC = pct(cur.map(_._3.toDouble), 0.5)
      def z2(xs: Seq[Long], med: Double): Seq[Long] =
        xs.map(x => BigDecimal(math.abs(x - med) * 2)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val za = z2(ref.map(_._3).toSeq, medR)
      val zb = z2(cur.map(_._3).toSeq, medC)
      val (na, sa, qa) = (za.length.toLong, za.sum, za.map(x => x * x).sum)
      val (nb, sb, qb) = (zb.length.toLong, zb.sum, zb.map(x => x * x).sum)
      val ma = sa.toDouble / na
      val mb = sb.toDouble / nb
      val va = (qa.toDouble - sa.toDouble * ma) / (na - 1)
      val vb = (qb.toDouble - sb.toDouble * mb) / (nb - 1)
      val tst = (ma - mb) / math.sqrt(va / na + vb / nb)
      val verdict =
        if (math.abs(tst) > 1.96) "spread_changed" else "spread_stable"
      assert(out(t) == (((na, nb), (r4(ma / 200), r4(mb / 200),
        r6(tst), verdict))), s"type $t diverged")
    }
  }
}
