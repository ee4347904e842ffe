package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnRetrieval, Evaluation2, Graph3}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 ninth batch (q262
  * average precision, q263 NDCG@10, q264 Cliff's delta, q265 McNemar,
  * q266 LPA communities, q267 Kendall tau-b). */
class Round10jSpec extends SparkTestBase {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).take(15), 16)

  /** Spark's exact `percentile(x, 0.5)` (linear interpolation). */
  private def median(xs: Seq[Long]): Double = {
    val s = xs.sorted
    val pos = 0.5 * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 < s.length)
      s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    else s(lo).toDouble
  }

  private lazy val perUser: Seq[(Long, Long, Long)] =
    Tables.events(spark, sf).select("user_id", "value", "event_type")
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        if (r.getString(2) == "purchase") 1L else 0L))
      .groupBy(_._1).map { case (u, rs) =>
        (u, rs.map(_._2).sum, rs.map(_._3).sum) }.toSeq

  test("q262 average precision equals a sequential distinct-score " +
      "replay and lands in [prevalence-consistent] bounds") {
    val row = Evaluation2.q262PrAuc(spark, sf).collect().head
    val med = median(perUser.map(_._3))
    val labeled = perUser.map(u => (u._2, if (u._3 > med) 1L else 0L))
    val byScore = labeled.groupBy(_._1).toSeq
      .map { case (c, rs) =>
        (c, rs.map(_._2).sum, rs.size - rs.map(_._2).sum) }
      .sortBy(-_._1)
    val p = byScore.map(_._2).sum
    val n = byScore.map(_._3).sum
    var cumTp = 0L; var cumAll = 0L; var apMicro = 0L
    byScore.foreach { case (_, pos, neg) =>
      cumTp += pos; cumAll += pos + neg
      if (p > 0)
        apMicro += rl((pos * cumTp).toDouble * 1e6 / (p * cumAll).toDouble)
    }
    assert(row.getLong(0) == p && row.getLong(1) == n)
    assert(row.getLong(2) == byScore.length.toLong)
    assert(row.getDouble(3) == r6(p.toDouble / (p + n)))
    assert(row.getDouble(4) == r6(apMicro.toDouble / 1e6))
    assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0 + 1e-9)
  }

  private lazy val vecs: Seq[(Long, Int, Array[Long])] =
    Tables.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v =>
          rl(v.toDouble * 1000000)).toArray))

  test("q263 NDCG@10 equals a sequential brute ranking replay") {
    val out = AnnRetrieval.q263RetrievalNdcg(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3))).toMap
    val labelSize = vecs.groupBy(_._2).map { case (l, vs) =>
      l -> vs.size }
    val n2 = vecs.map(v => v._1 -> v._3.map(x => x * x).sum).toMap
    val qset = graft.operators.Similarity.queryIdSetSeq(vecs.map(_._1).toSeq).toSet
    val perQ = vecs.filter(v => qset.contains(v._1)).map { case (qid, ql, qv) =>
      val ranked = vecs.filter(_._1 != qid).map { case (cid, cl, cv) =>
        val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
        (cid, cl, dot.toDouble / math.sqrt(n2(cid).toDouble))
      }.sortBy(t => (-t._3, t._1)).take(AnnRetrieval.NdcgK)
      val dcg = ranked.zipWithIndex.collect {
        case ((_, cl, _), i) if cl == ql =>
          AnnRetrieval.NdcgDisc6(i)
      }.sum
      val m = math.min(AnnRetrieval.NdcgK, labelSize(ql) - 1)
      val idcg = AnnRetrieval.NdcgIdeal6(m)
      val ndcgMicro =
        if (idcg > 0) rl(dcg.toDouble * 1e6 / idcg.toDouble) else 0L
      (ql, ndcgMicro, dcg)
    }
    perQ.groupBy(_._1).foreach { case (l, qs) =>
      val expect = (qs.size.toLong,
        r6(qs.map(_._2).sum.toDouble / qs.size / 1e6),
        qs.count(_._3 > 0L).toLong)
      assert(out(l) == expect, s"label $l diverged")
    }
    assert(out.keySet == perQ.map(_._1).toSet)
  }

  test("q264 Cliff's delta equals a brute pairwise count per event " +
      "type (the window fold never enumerates pairs)") {
    val out = Evaluation2.q264CliffsDelta(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getString(6)))
      .toMap
    val byType = Tables.events(spark, sf)
      .select("event_type", "user_id", "value").collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        math.round(r.getDouble(2) * 100)))
      .groupBy(_._1).map { case ((t, u), rs) =>
        (t, h60(s"arm:$u") % 2 == 0, rs.map(_._2).sum) }
      .groupBy(_._1)
    byType.foreach { case (t, users) =>
      val as = users.filter(_._2).map(_._3).toSeq
      val bs = users.filter(!_._2).map(_._3).toSeq
      val gt = as.map(a => bs.count(_ < a).toLong).sum
      val lt = as.map(a => bs.count(_ > a).toLong).sum
      val delta = r6((gt - lt).toDouble /
        (as.size.toLong * bs.size.toLong).toDouble)
      val mag = if (math.abs(delta) >= 0.474) "large"
        else if (math.abs(delta) >= 0.33) "medium"
        else if (math.abs(delta) >= 0.147) "small" else "negligible"
      assert(out(t) == ((as.size.toLong, bs.size.toLong, gt, lt,
        delta, mag)), s"type $t diverged")
    }
    assert(out.keySet == byType.keySet)
  }

  test("q265 McNemar cells equal a sequential two-pick replay and " +
      "conserve the vector count") {
    val row = AnnRetrieval.q265McnemarPicks(spark, sf).collect().head
    val cd = vecs.flatMap { case (_, l, iv) =>
      iv.zipWithIndex.map { case (v, pos) => ((l, pos), v) } }
      .groupBy(_._1).map { case ((l, pos), vs) =>
        ((l, pos), rl(vs.map(_._2).sum.toDouble / vs.size)) }
    val labels = cd.keys.map(_._1).toSeq.distinct.sorted
    val norms = labels.map(l =>
      l -> cd.collect { case ((`l`, _), cq) => cq * cq }.sum).toMap
    val picks = vecs.map { case (_, trueL, iv) =>
      val scored = labels.map { cl =>
        val dot = iv.zipWithIndex.map { case (v, pos) =>
          v * cd((cl, pos)) }.sum
        (cl, dot, dot.toDouble / math.sqrt(norms(cl).toDouble))
      }
      val predCos = scored.sortBy(t => (-t._3, t._1)).head._1
      val predDot = scored.sortBy(t => (-t._2, t._1)).head._1
      (if (predCos == trueL) 1L else 0L, if (predDot == trueL) 1L else 0L)
    }
    val nBoth = picks.count(p => p._1 == 1 && p._2 == 1).toLong
    val nCos = picks.count(p => p._1 == 1 && p._2 == 0).toLong
    val nDot = picks.count(p => p._1 == 0 && p._2 == 1).toLong
    val nNeither = picks.count(p => p._1 == 0 && p._2 == 0).toLong
    assert(row.getLong(0) == picks.size.toLong)
    assert((row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) == ((nBoth, nCos, nDot, nNeither)))
    assert(row.getLong(1) + row.getLong(2) + row.getLong(3) +
      row.getLong(4) == row.getLong(0))
    assert(row.getDouble(5) ==
      r6((nBoth + nCos).toDouble / picks.size))
    assert(row.getDouble(6) ==
      r6((nBoth + nDot).toDouble / picks.size))
    if (nCos + nDot > 0) {
      val d = math.abs(nCos - nDot) - 1
      assert(row.getDouble(7) ==
        r6((d * d).toDouble / (nCos + nDot).toDouble))
    } else assert(row.isNullAt(7))
  }

  test("q266 LPA equals a sequential synchronous replay with " +
      "min-label tie-breaks") {
    val out = Graph3.q266LpaCommunities(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val edges = Tables.lineitem(spark, sf)
      .select("l_suppkey", "l_partkey").collect()
      .map(r => ("s" + r.getLong(0), "p" + r.getLong(1))).distinct
    val und = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var labels: Map[String, String] = und.keys.map(n => n -> n).toMap
    (1 to Graph3.LpaRounds).foreach { _ =>
      labels = und.map { case (n, nbrs) =>
        val counts = nbrs.map(labels).groupBy(identity)
          .map { case (l, ls) => (l, ls.size) }.toSeq
        n -> counts.sortBy(t => (-t._2, t._1)).head._1
      }
    }
    val expect = labels.toSeq.groupBy(_._2).map { case (c, ms) =>
      (c, ms.size.toLong,
        ms.count(_._1.startsWith("s")).toLong,
        ms.count(_._1.startsWith("p")).toLong) }.toSeq
      .sortBy(t => (-t._2, t._1)).take(Graph3.LpaTopK)
    assert(out.toSeq == expect)
    // communities partition the node set: sizes conserve members
    assert(labels.size == und.size)
    out.foreach(c => assert(c._2 == c._3 + c._4))
  }

  test("q267 Kendall tau-b equals a brute pairwise replay over the " +
      "nation profile") {
    val row = Evaluation2.q267KendallTau(spark, sf).collect().head
    val nation = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val profile = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (nation(r.getLong(0)), r.getLong(0),
        math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map { case (n, os) =>
        (n, os.map(_._3).sum, os.map(_._2).distinct.size.toLong) }.toSeq
      .sortBy(_._1)
    val pairs = for {
      i <- profile.indices; j <- profile.indices if profile(i)._1 < profile(j)._1
    } yield (profile(i), profile(j))
    val tieX = pairs.count(p => p._1._2 == p._2._2).toLong
    val tieY = pairs.count(p => p._1._3 == p._2._3).toLong
    val conc = pairs.count(p => p._1._2 != p._2._2 && p._1._3 != p._2._3 &&
      ((p._1._2 < p._2._2) == (p._1._3 < p._2._3))).toLong
    val disc = pairs.count(p => p._1._2 != p._2._2 && p._1._3 != p._2._3 &&
      ((p._1._2 < p._2._2) != (p._1._3 < p._2._3))).toLong
    val t0 = pairs.size.toLong
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getLong(4)) == ((t0, conc, disc, tieX, tieY)))
    if ((t0 - tieX) * (t0 - tieY) > 0) {
      assert(row.getDouble(5) == r6((conc - disc).toDouble /
        math.sqrt(((t0 - tieX) * (t0 - tieY)).toDouble)))
      assert(math.abs(row.getDouble(5)) <= 1.0 + 1e-9)
    } else assert(row.isNullAt(5))
  }
}
