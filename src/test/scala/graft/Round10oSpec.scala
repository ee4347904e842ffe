package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Curation2, Experiment, Graph, StorageLayout}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 fourteenth batch
  * (q284 jackknife influence, q285 local clustering coefficient, q286
  * partition-pruning advisor, q287 sequential-peeking audit). */
class Round10oSpec extends SparkTestBase {

  test("q284 jackknife equals a sequential replay and influence signs " +
      "track each source's own mean") {
    val docs = Tables.documents(spark, sf).select("source", "n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1).map { case (s, xs) =>
      s -> (xs.length.toLong, xs.map(_._2).sum) }
    val nn = docs.length.toLong
    val ss = docs.map(_._2).sum
    val g = bySrc.size.toLong
    val thetaMu = bySrc.toSeq.sortBy(_._1).map { case (s, (n, sc)) =>
      s -> BigDecimal((ss - sc).toDouble / (nn - n) * 1000000d)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val smu = thetaMu.map(_._2).sum
    val qmu = thetaMu.map(t => BigDecimal(t._2) * BigDecimal(t._2)).sum
    val se = math.sqrt((qmu.toDouble - smu.toDouble * (smu.toDouble / g))
      * (g - 1) / g) / 1000000d
    val got = Curation2.q284JackknifeInfluence(spark, sf).collect()
    assert(got.length == g)
    got.foreach { r =>
      val s = r.getString(0)
      val (n, sc) = bySrc(s)
      val loo = (ss - sc).toDouble / (nn - n)
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == rN(sc.toDouble / n, 4), s"$s mean")
      assert(r.getDouble(3) == rN(loo, 4), s"$s loo")
      assert(r.getDouble(4) == rN(ss.toDouble / nn - loo, 4), s"$s infl")
      assert(r.getDouble(5) == rN(se, 6), s"$s se")
      // a source above the global mean pulls it up (positive influence)
      val srcMean = sc.toDouble / n
      val global = ss.toDouble / nn
      if (math.abs(r.getDouble(4)) > 0.001)
        assert((r.getDouble(4) > 0) == (srcMean > global), s"$s sign")
    }
  }

  test("q285 local clustering equals a sequential triangle replay") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // row-level pair support (the q140 edge definition: every row pair
    // with pa < pb counts, duplicate lines included — no per-order dedup)
    val edges = li.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val ps = xs.map(_._2).toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).filter(_._2.size >= 2).keys.toSeq
    val adj = (edges.map(e => e._1 -> e._2) ++
      edges.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      adj(a).intersect(adj(b)).foreach { c =>
        if (c > b) { // a < b < c counts each triangle once
          triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
        }
      }
    }
    val expect = adj.toSeq.map { case (n, nbrs) =>
      val d = nbrs.size.toLong
      (n, d, triPerNode(n),
        rN(2.0 * triPerNode(n) / (d * (d - 1)), 6))
    }.filter(_._2 >= 2)
      .sortBy(t => (-t._4, -t._3, -t._2, t._1))
      .take(Graph.ClusterTopK)
    val got = Graph.q285ClusteringCoefficient(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expect, "top-k clustering list diverged")
    got.foreach { case (_, _, _, cc) =>
      assert(cc >= 0.0 && cc <= 1.0 + 1e-9)
    }
  }

  test("q286 advisor equals a sequential histogram replay and " +
      "respects the collision-probability bounds") {
    val li = Tables.lineitem(spark, sf)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        col("l_returnflag"), col("l_linestatus"),
        pmod(col("l_suppkey"), lit(32)).cast("string").as("sb"),
        pmod(col("l_partkey"), lit(1024)).cast("string").as("pb"))
      .collect()
    val keyed: Map[String, Seq[String]] = Map(
      "ship_month" -> li.map(_.getString(0)).toSeq,
      "return_flag" -> li.map(_.getString(1)).toSeq,
      "line_status" -> li.map(_.getString(2)).toSeq,
      "supp_bucket_32" -> li.map(_.getString(3)).toSeq,
      "part_bucket_1024" -> li.map(_.getString(4)).toSeq)
    val got = StorageLayout.q286PartitionAdvisor(spark, sf).collect()
    assert(got.map(_.getString(0)).toSeq == keyed.keys.toSeq.sorted)
    got.foreach { r =>
      val vs = keyed(r.getString(0))
      val hist = vs.groupBy(identity).map(_._2.size.toLong)
      val n = vs.length.toLong
      val s2 = hist.map(c => BigDecimal(c) * BigDecimal(c)).sum
      assert(r.getLong(1) == hist.size.toLong)
      assert(r.getLong(2) == n)
      val esf = rN(s2.toDouble / (n.toDouble * n), 8)
      assert(r.getDouble(3) == esf, s"${r.getString(0)} esf")
      assert(r.getDouble(4) == rN(hist.max.toDouble / n, 8))
      // Σp² ∈ [1/K, 1] and Σp² ≥ (max p)²
      assert(r.getDouble(3) >= 1.0 / hist.size - 1e-8)
      assert(r.getDouble(3) <= 1.0 + 1e-9)
      assert(r.getDouble(3) >=
        math.pow(hist.max.toDouble / n, 2) - 1e-8)
    }
  }

  test("q287 peeking audit equals a sequential day-by-day replay") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2), r.getLong(3)))
    def inA(u: Long): Boolean = Hashing.md5Hash60Value(s"arm:$u") % 2 == 0
    def zOf(rows: Seq[(Boolean, Long)]): Option[Double] = {
      val (as, bs) = rows.partition(_._1)
      val (na, nb) = (as.length.toLong, bs.length.toLong)
      if (na < 2 || nb < 2) return None
      val (sa, qa) = (as.map(_._2).sum, as.map(t => t._2 * t._2).sum)
      val (sb, qb) = (bs.map(_._2).sum, bs.map(t => t._2 * t._2).sum)
      val ma = sa.toDouble / na
      val mb = sb.toDouble / nb
      val va = (qa.toDouble - sa.toDouble * ma) / (na - 1)
      val vb = (qb.toDouble - sb.toDouble * mb) / (nb - 1)
      val denom = va / na + vb / nb
      if (denom > 0) Some((ma - mb) / math.sqrt(denom)) else None
    }
    val got = Experiment.q287PeekingAudit(spark, sf).collect()
    got.foreach { r =>
      val tpe = r.getString(0)
      val rows = ev.filter(_._1 == tpe)
        .map(t => (t._2, inA(t._3), t._4))
      val days = rows.map(_._1).distinct.sortBy(_.getTime)
      assert(r.getInt(1) == days.length, s"$tpe n_days")
      val zs = days.zipWithIndex.map { case (d, i) =>
        (i + 1, zOf(rows.filter(!_._1.after(d)).map(t => (t._2, t._3))))
      }
      val overs = zs.filter(_._2.exists(z => math.abs(z) > 1.96))
      if (overs.isEmpty) assert(r.isNullAt(2), s"$tpe stop idx")
      else assert(r.getInt(2) == overs.head._1, s"$tpe stop idx")
      assert(r.getLong(3) == overs.length.toLong, s"$tpe days_over")
      val fz = zOf(rows.map(t => (t._2, t._3)))
      fz match {
        case Some(z) =>
          assert(r.getDouble(4) == rN(z, 6), s"$tpe final_z")
          assert(r.getBoolean(5) == (math.abs(z) > 1.96))
          assert(r.getBoolean(6) ==
            (overs.nonEmpty && !(math.abs(z) > 1.96)))
        case None =>
          assert(r.isNullAt(4) && !r.getBoolean(5))
          assert(r.getBoolean(6) == overs.nonEmpty)
      }
      // consistency: a first stop implies at least one over-day
      if (!r.isNullAt(2)) assert(r.getLong(3) > 0)
    }
  }
}
