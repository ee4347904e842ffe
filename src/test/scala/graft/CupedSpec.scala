package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Cuped => C}

/** q167 — CUPED pinned against an independent sufficient-statistics
  * recompute, plus a strongly-correlated synthetic branch proving the
  * reduction machinery actually reduces (the near-independent real
  * corpus only yields ~0.5%). */
class CupedSpec extends SparkTestBase {

  /** The q167 arithmetic over per-user (x, y, arm) triples — the same
    * fixed expression tree, driven from plain Scala sums. */
  private def cuped(rows: Seq[(Long, Long, Boolean)])
      : (Long, Long, Double, Double, Double, Double) = {
    def stats(f: Boolean) = {
      val s = rows.filter(_._3 == f)
      (s.length.toLong, s.map(_._1).sum, s.map(_._2).sum,
        s.map(r => r._1 * r._1).sum, s.map(r => r._2 * r._2).sum,
        s.map(r => r._1 * r._2).sum)
    }
    val (na, sxa, sya, sxxa, syya, sxya) = stats(true)
    val (nb, sxb, syb, sxxb, syyb, sxyb) = stats(false)
    val n = (na + nb).toDouble
    val sx = (sxa + sxb).toDouble; val sy = (sya + syb).toDouble
    val sxx = (sxxa + sxxb).toDouble; val syy = (syya + syyb).toDouble
    val sxy = (sxya + sxyb).toDouble
    val theta = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    val mya = sya.toDouble / na; val myb = syb.toDouble / nb
    val vya = (syya.toDouble - sya.toDouble * mya) / (na - 1)
    val vyb = (syyb.toDouble - syb.toDouble * myb) / (nb - 1)
    val tRaw = (mya - myb) / math.sqrt(vya / na + vyb / nb)
    val saA = sya.toDouble - theta * sxa.toDouble
    val saB = syb.toDouble - theta * sxb.toDouble
    val sqA = syya.toDouble - 2 * theta * sxya.toDouble +
      theta * theta * sxxa.toDouble
    val sqB = syyb.toDouble - 2 * theta * sxyb.toDouble +
      theta * theta * sxxb.toDouble
    val vaA = (sqA - saA * (saA / na)) / (na - 1)
    val vaB = (sqB - saB * (saB / nb)) / (nb - 1)
    val tCuped = (saA / na - saB / nb) / math.sqrt(vaA / na + vaB / nb)
    val vRaw = (syy - sy * (sy / n)) / (n - 1)
    val vAdj = (sqA + sqB - (saA + saB) * ((saA + saB) / n)) / (n - 1)
    (na, nb, theta, tRaw, tCuped, 1 - vAdj / vRaw)
  }

  test("q167 matches the independent sufficient-statistics recompute") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val perUser = ev.groupBy(_._1).map { case (u, es) =>
      (es.filter(_._2 < cut).map(_._3).sum,
        es.filter(_._2 >= cut).map(_._3).sum,
        Hashing.md5Hash60Value(s"arm:$u") % 2 == 0)
    }.toSeq
    val (na, nb, theta, tRaw, tCuped, vr) = cuped(perUser)
    val r = C.q167Cuped(spark, sf).collect().head
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(r.getDouble(2) == r6(theta), "theta")
    assert(r.getDouble(3) == r6(tRaw), "t_raw")
    assert(r.getDouble(4) == r6(tCuped), "t_cuped")
    assert(r.getDouble(5) == r6(vr), "var_reduction")
  }

  test("a strongly pre-correlated metric yields a large reduction and " +
      "an unbiased contrast") {
    // users with stable activity levels: y ≈ x + noise, no true
    // treatment effect — CUPED must slash variance without inventing
    // significance
    val rows = (1 to 400).map { u =>
      val level = 1000L + 37L * (u % 50)
      val noise = (u * 13) % 11 - 5
      (level, level + noise, u % 2 == 0)
    }
    val (_, _, theta, tRaw, tCuped, vr) = cuped(rows)
    assert(theta > 0.9 && theta < 1.1, s"theta $theta")
    assert(vr > 0.9, s"variance reduction $vr")
    assert(math.abs(tCuped) < 1.96 && math.abs(tRaw) < 1.96,
      s"no-effect data must stay not-significant: $tRaw / $tCuped")
  }
}
