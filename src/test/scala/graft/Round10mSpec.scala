package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupClusters, Drift, SketchAlgebra, Skew}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twelfth batch (q276
  * weighted overlap, q277 dedup savings, q278 quantile drift, q279
  * Otsu threshold). */
class Round10mSpec extends SparkTestBase {

  test("q276 weighted Jaccard equals a sequential frequency replay " +
      "and sum_min is bounded by the smaller total") {
    val out = SketchAlgebra.q276WeightedOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val counts: Map[String, Map[String, Long]] =
      Tables.documents(spark, sf).select("source", "text").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .groupBy(_._1).map { case (s, ds) =>
          s -> ds.flatMap { case (_, text) =>
            val ws = text.trim.split(" ", -1)
            if (ws.length < 2) Seq.empty[String]
            else ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }.toSeq
          }.groupBy(identity).map { case (u, us) => u -> us.size.toLong }
        }
    val srcs = counts.keys.toSeq.sorted
    for (i <- srcs.indices; j <- (i + 1) until srcs.length) {
      val (a, b) = (srcs(i), srcs(j))
      val (ca, cb) = (counts(a), counts(b))
      val ta = ca.values.sum; val tb = cb.values.sum
      val sMin = ca.keySet.intersect(cb.keySet).toSeq
        .map(u => math.min(ca(u), cb(u))).sum
      assert(out((a, b)) == ((ta, tb, sMin,
        r6(sMin.toDouble / (ta + tb - sMin).toDouble))),
        s"pair ($a,$b) diverged")
      assert(sMin <= math.min(ta, tb))
    }
  }

  test("q277 savings ledger equals a replay over the q73 labels and " +
      "dup docs conserve cluster arithmetic") {
    val row = DedupClusters.q277DedupSavings(spark, sf).collect().head
    val clusters = DedupClusters.q73DedupClusters(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val canon = clusters.groupBy(_._2).map { case (c, ms) =>
      c -> ms.map(_._1).min }
    val toks = Tables.documents(spark, sf).select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.split(" ", -1).length.toLong).toMap
    val clMap = clusters.toMap
    val dupDocs = clusters.filter { case (d, c) => d != canon(c) }
    val nDup = dupDocs.length.toLong
    val dupToks = dupDocs.map(d => toks(d._1)).sum
    val nDocs = toks.size.toLong
    val nToks = toks.values.sum
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3)) == ((nDocs, nDup, nToks, dupToks)))
    assert(row.getDouble(4) == r6(nDup.toDouble / nDocs))
    assert(row.getDouble(5) == r6(dupToks.toDouble / nToks))
    // each cluster keeps exactly one canonical
    val bySize = clusters.groupBy(_._2).map(_._2.size.toLong)
    assert(nDup == bySize.map(_ - 1).sum)
    assert(clMap.size == clusters.length)
  }

  test("q278 decile shifts equal a sequential two-half percentile " +
      "replay") {
    val out = Drift.q278QuantileDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2),
        r.getDouble(3), r.getDouble(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
    val evs = Tables.events(spark, sf)
      .select("event_type", "ts", "value").collect()
      .map { r =>
        val t = r.getTimestamp(1)
        (r.getString(0),
          (t.getTime / 1000) * 1000000L + t.getNanos / 1000,
          r.getDouble(2))
      }
    val cut = (evs.map(_._2).min + evs.map(_._2).max) / 2
    val types = evs.map(_._1).distinct.sorted
    types.foreach { t =>
      val ref = evs.filter(e => e._1 == t && e._2 < cut).map(_._3).toSeq
      val cur = evs.filter(e => e._1 == t && e._2 >= cut).map(_._3).toSeq
      (1 to 9).foreach { d =>
        val rv = pct(ref, d / 10.0); val cv = pct(cur, d / 10.0)
        val expShift = r6(cv - rv)
        val expPct = if (rv != 0.0) Some(r6((cv - rv) / rv)) else None
        assert(out((t, d * 10)) == ((r6(rv), r6(cv), expShift, expPct)),
          s"($t, ${d * 10}) diverged")
      }
    }
    assert(out.size == types.size * 9)
  }

  test("q279 Otsu threshold equals a sequential objective argmax and " +
      "separates the means") {
    val row = Skew.q279OtsuThreshold(spark, sf).collect().head
    val spend = Tables.events(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map(_._2.map(_._2).sum).toSeq
    val byVal = spend.groupBy(identity)
      .map { case (c, cs) => (c, cs.size.toLong) }.toSeq.sortBy(_._1)
    val nAll = byVal.map(_._2).sum
    val sAll = byVal.map(t => t._1 * t._2).sum
    var n0 = 0L; var s0 = 0L
    val cands = byVal.dropRight(1).map { case (c, cnt) =>
      n0 += cnt; s0 += c * cnt
      val n1 = nAll - n0; val s1 = sAll - s0
      val d = s0 * n1 - s1 * n0
      (c, n0, s0, n1, s1,
        d.toDouble * d.toDouble / (n0 * n1).toDouble)
    }
    val best = cands.maxBy(t => (t._6, -t._1.toDouble))
    assert(row.getDouble(0) == r2(best._1.toDouble / 100.0))
    assert((row.getLong(1), row.getLong(2)) == ((best._2, best._4)))
    // means: exact integer HALF-UP to whole cents, one exact division
    // (the engine's r11 boundary-proof formulation)
    assert(row.getDouble(3) ==
      ((2 * best._3 + best._2) / (2 * best._2)).toDouble / 100.0)
    assert(row.getDouble(4) ==
      ((2 * best._5 + best._4) / (2 * best._4)).toDouble / 100.0)
    assert(row.getDouble(4) > row.getDouble(3),
      "the above-threshold mean must exceed the below-threshold mean")
  }
}
