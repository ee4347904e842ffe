package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Affinity, Contribution, Curation2, Experiment}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 thirteenth batch
  * (q280 A/B power audit, q281 price-volume-mix bridge, q282
  * association rules, q283 effective sample size). */
class Round10nSpec extends SparkTestBase {

  test("q280 MDE equals a sequential per-arm recompute and shrinks " +
      "with sample size") {
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def inA(u: Long): Boolean = Hashing.md5Hash60Value(s"arm:$u") % 2 == 0
    val got = Experiment.q280AbPower(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val tpe = r.getString(0)
      val (as, bs) = rows.filter(_._1 == tpe).partition(t => inA(t._2))
      val (na, nb) = (as.length.toLong, bs.length.toLong)
      assert(r.getLong(1) == na && r.getLong(2) == nb, s"$tpe arm sizes")
      val (sa, qa) = (as.map(_._3).sum, as.map(t => t._3 * t._3).sum)
      val (sb, qb) = (bs.map(_._3).sum, bs.map(t => t._3 * t._3).sum)
      val ma = sa.toDouble / na
      val mb = sb.toDouble / nb
      val va = (qa.toDouble - sa.toDouble * ma) / (na - 1)
      val vb = (qb.toDouble - sb.toDouble * mb) / (nb - 1)
      val mde = Experiment.ZSum6 * math.sqrt(va / na + vb / nb)
      assert(r.getDouble(3) == rN(ma / 100, 4), s"$tpe mean_a")
      assert(r.getDouble(4) == rN(mde / 100, 4), s"$tpe mde_abs")
      assert(r.getDouble(5) == rN(mde / ma, 6), s"$tpe mde_rel")
      assert(r.getDouble(4) > 0, s"$tpe zero MDE")
      // law: quadrupling both arms halves the MDE (same variances)
      val mde4 = Experiment.ZSum6 *
        math.sqrt(va / (4 * na) + vb / (4 * nb))
      assert(math.abs(mde4 - mde / 2) < 1e-9 * mde)
    }
  }

  test("q281 PVM bridge equals a sequential replay and the three " +
      "effects reconstruct the revenue delta") {
    val li = Tables.lineitem(spark, sf)
      .select(unix_micros(col("l_shipdate")).as("us"), col("l_partkey"),
        expr("cast(round(l_quantity, 0) as bigint)").as("qty"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ptype = Tables.part(spark, sf).select("p_partkey", "p_type")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cut = (li.map(_._1).min + li.map(_._1).max) / 2
    val byType = li.groupBy(t => ptype(t._2))
    val got = Contribution.q281PriceVolumeMix(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      byType.keys.toSeq.sorted)
    got.foreach { r =>
      val rows = byType(r.getString(0))
      val (h0, h1) = rows.partition(_._1 < cut)
      val (q0, r0) = (h0.map(_._3).sum, h0.map(_._4).sum)
      val (q1, r1) = (h1.map(_._3).sum, h1.map(_._4).sum)
      assert(r.getDouble(1) == rN(r0.toDouble / 100, 2))
      assert(r.getDouble(2) == rN(r1.toDouble / 100, 2))
      assert(r.getDouble(3) == rN((r1 - r0).toDouble / 100, 2))
      if (q0 > 0 && q1 > 0) {
        val p0 = r0.toDouble / q0
        val p1 = r1.toDouble / q1
        val dq = (q1 - q0).toDouble
        assert(r.getDouble(4) == rN(p0 * dq / 100, 2), "volume")
        assert(r.getDouble(5) == rN(q0.toDouble * (p1 - p0) / 100, 2),
          "price")
        assert(r.getDouble(6) == rN((p1 - p0) * dq / 100, 2), "cross")
        // decomposition identity: effects sum to the delta (each
        // term rounded to cents independently → ≤ 2-cent slack)
        assert(math.abs(r.getDouble(4) + r.getDouble(5) +
          r.getDouble(6) - r.getDouble(3)) < 0.02 + 1e-9)
      } else assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6))
    }
  }

  test("q282 rules equal a sequential a-priori replay and respect " +
      "the confidence/lift laws") {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = items.map(_._1).distinct.length.toLong
    val itemSup = items.groupBy(_._2).map { case (p, xs) =>
      p -> xs.length.toLong }
    val pairSup = items.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val triSup = items.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length;
           k <- (j + 1) until ps.length)
        yield (ps(i), ps(j), ps(k))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= Affinity.TriMinSup)
    val rules = triSup.toSeq.flatMap { case ((a, b, c), sup) =>
      Seq((a, b, c, sup, pairSup((a, b))),
        (a, c, b, sup, pairSup((a, c))),
        (b, c, a, sup, pairSup((b, c))))
    }.map { case (a1, a2, cs, sup, supAnt) =>
      val conf = rN(sup.toDouble / supAnt, 6)
      val lift = rN(sup.toDouble / supAnt * nBaskets.toDouble /
        itemSup(cs), 6)
      (a1, a2, cs, sup, supAnt, itemSup(cs), conf, lift)
    }.sortBy(t => (-t._8, -t._7, t._1, t._2, t._3))
      .take(Affinity.TopRules)
    val got = Affinity.q282AssociationRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
    assert(got.toSeq == rules, "rule list diverged")
    got.foreach { case (_, _, _, sup, supAnt, itemN, conf, lift) =>
      assert(sup <= supAnt && conf <= 1.0 + 1e-9 && conf > 0)
      // lift = conf · nBaskets / item_n, re-formed from the columns
      assert(lift == rN(conf * nBaskets / itemN, 6) ||
        math.abs(lift - sup.toDouble / supAnt * nBaskets / itemN) < 1e-6)
      assert(lift > 0)
    }
  }

  test("q283 ESS equals a sequential replay and is bounded by n_docs") {
    val docs = Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0)
    val got = Curation2.q283EffectiveSampleSize(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq ==
      docs.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val ws = docs.filter(_._1 == r.getString(0)).map(_._2)
      val sw = ws.sum
      val sw2 = ws.map(w => w * w).sum
      val ess = sw.toDouble * sw.toDouble / sw2.toDouble
      assert(r.getLong(1) == ws.length.toLong)
      assert(r.getDouble(2) == rN(ess, 4))
      assert(r.getDouble(3) == rN(ess / ws.length, 6))
      // Kish bound: 1 ≤ ESS ≤ n (equality iff equal weights)
      assert(r.getDouble(2) >= 1.0 - 1e-9 &&
        r.getDouble(2) <= ws.length + 1e-6)
    }
  }
}
