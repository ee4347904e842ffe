package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{AnnRetrieval, Drift, Evaluation, InfoTheory, Vocabulary}
import graft.sources.Tables

/** Independent-formulation semantics pins for the round-10 second
  * batch (q229 rater kappa, q230 vocabulary richness, q231 source
  * JSD, q232 transition entropy, q233 label-noise confusion, q234 KS
  * drift): each operator is recomputed sequentially from the same
  * fixture with plain Scala collections and compared exactly, plus
  * the analytic laws each statistic must satisfy. */
class Round10bSpec extends SparkTestBase {

  private def log2(x: Double): Double = math.log(x) / math.log(2.0)

  test("q229 kappa equals a sequential contingency recompute and " +
      "respects the po/pe consistency laws") {
    val out = Evaluation.q229RaterKappa(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)),
        (r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    val docs = Tables.documents(spark, sf)
      .select("lang", "n_chars", "text").collect()
      .map { r =>
        val ws = words(r.getString(2))
        (r.getString(0), r.getLong(1), ws.length, ws.distinct.length)
      }.filter(_._3 >= 1)
    val medChars = pct(docs.map(_._2.toDouble), 0.5)
    val medTtr = pct(docs.map(d => d._4.toDouble / d._3.toDouble), 0.5)
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val flags = rows.map(d => (d._2.toDouble >= medChars,
        d._4.toDouble / d._3.toDouble >= medTtr))
      val n11 = flags.count(f => f._1 && f._2).toLong
      val n10 = flags.count(f => f._1 && !f._2).toLong
      val n01 = flags.count(f => !f._1 && f._2).toLong
      val n00 = flags.count(f => !f._1 && !f._2).toLong
      val n = rows.length.toLong
      val po = (n11.toDouble + n00.toDouble) / n.toDouble
      val pe = ((n11.toDouble + n10.toDouble) * (n11.toDouble + n01.toDouble) +
        (n01.toDouble + n00.toDouble) * (n10.toDouble + n00.toDouble)) /
        (n.toDouble * n.toDouble)
      val kappa = (po - pe) / (1.0 - pe)
      assert(out(lang) == (((n, n11, n10, n01, n00),
        (r6(po), r6(pe), r6(kappa)))), s"lang $lang diverged")
      // kappa laws: bounded above by 1, and agreement beyond chance
      // can never exceed observed agreement
      assert(kappa <= 1.0 + 1e-12, s"kappa > 1 for $lang")
      assert(po + 1e-12 >= kappa * (1.0 - pe) + pe,
        s"kappa inconsistent with po/pe for $lang")
    }
  }

  test("q230 vocabulary richness equals a sequential frequency-of-" +
      "frequencies recompute; Chao1 never undercuts the observed " +
      "vocabulary") {
    val out = Vocabulary.q230VocabRichness(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)), (r.getDouble(5), r.getDouble(6))))
      .toMap
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    docs.groupBy(_._1).foreach { case (src, rows) =>
      val hist = rows.flatMap(r => words(r._2))
        .groupBy(identity).map { case (_, ws) => ws.length }
      val v = hist.size.toLong
      val n = hist.map(_.toLong).sum
      val f1 = hist.count(_ == 1).toLong
      val f2 = hist.count(_ == 2).toLong
      val pUnseen = r6(f1.toDouble / n.toDouble)
      val chao1 = r2(v.toDouble +
        f1.toDouble * (f1.toDouble - 1.0) / (2.0 * (f2.toDouble + 1.0)))
      assert(out(src) == (((v, n, f1, f2), (pUnseen, chao1))),
        s"source $src diverged")
      assert(chao1 >= v.toDouble, s"Chao1 must dominate V_obs ($src)")
      assert(pUnseen >= 0.0 && pUnseen <= 1.0)
    }
  }

  test("q231 source JSD equals a sequential smoothed-distribution " +
      "replay and respects the [0, 1] bit bound") {
    val out = InfoTheory.q231SourceJsd(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val B = InfoTheory.JsdBuckets
    val counts: Map[String, Map[Int, Long]] = docs.groupBy(_._1)
      .map { case (src, rows) =>
        src -> rows.flatMap(r => words(r._2))
          .map(w => (Hashing.md5Hash60Value(w) % B).toInt)
          .groupBy(identity).map { case (b, ws) => b -> ws.length.toLong }
      }
    val totals = counts.map { case (s, m) => s -> m.values.sum }
    def p(src: String, b: Int): Double =
      (counts(src).getOrElse(b, 0L) + 1L).toDouble /
        (totals(src) + B.toLong).toDouble
    val sources = counts.keys.toSeq.sorted
    for {
      i <- sources.indices; j <- sources.indices if i < j
    } {
      val (sa, sb) = (sources(i), sources(j))
      val sumMicro = (0 until B).map { b =>
        val (pa, pb) = (p(sa, b), p(sb, b))
        val m = (pa + pb) / 2.0
        micro(0.5 * pa * log2(pa / m) + 0.5 * pb * log2(pb / m))
      }.sum
      val jsd = r6(sumMicro.toDouble / 1e6)
      assert(out((sa, sb)) == (((totals(sa), totals(sb)), jsd)),
        s"pair ($sa, $sb) diverged")
      assert(jsd >= 0.0 && jsd <= 1.0, "JSD in bits is bounded by 1")
    }
  }

  test("q232 transition entropy equals a sequential recompute and is " +
      "bounded by log2 of the fan-out") {
    val out = InfoTheory.q232TransitionEntropy(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)),
        r.getDouble(3))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3)).map(_._4)
      ordered.zip(ordered.drop(1))
    }
    val nij = trans.groupBy(identity).map { case (k, v) =>
      k -> v.length.toLong }
    val ni = nij.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    val nAll = nij.values.sum
    ni.keys.foreach { t =>
      val terms = nij.filter(_._1._1 == t)
      val sumMicro = terms.map { case (_, c) =>
        val r = c.toDouble / ni(t).toDouble
        micro(-r * log2(r))
      }.sum
      val h = r6(sumMicro.toDouble / 1e6)
      assert(out(t) == (((ni(t), terms.size.toLong), h)),
        s"prev $t diverged")
      assert(h >= -1e-9 && h <= log2(terms.size.toDouble) + 1e-6,
        s"entropy bound violated for $t")
    }
    val gMicro = nij.map { case ((t, _), c) =>
      micro(-(c.toDouble / nAll.toDouble) *
        log2(c.toDouble / ni(t).toDouble))
    }.sum
    assert(out("__ALL__") == (((nAll, nij.size.toLong),
      r6(gMicro.toDouble / 1e6))))
  }

  test("q233 label-noise confusion equals a sequential nearest-centroid " +
      "recompute; every vector is assigned exactly once") {
    val out = AnnRetrieval.q233LabelNoise(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => BigDecimal(v.toDouble * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)))
    val cd: Map[Int, Seq[Long]] = vecs.groupBy(_._2).map { case (l, rs) =>
      val dim = rs.head._3.length
      l -> (0 until dim).map { i =>
        val s = rs.map(_._3(i)).sum
        BigDecimal(s.toDouble / rs.length)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
    }
    val norms = cd.map { case (l, c) =>
      l -> math.sqrt(c.map(x => x * x).sum.toDouble) }
    val assigned = vecs.map { case (_, label, vm) =>
      val pred = cd.keys.toSeq.sorted.map { l =>
        val dot = vm.zip(cd(l)).map { case (a, b) => a * b }.sum
        (l, dot.toDouble / norms(l))
      }.minBy { case (l, s) => (-s, l) }._1
      (label, pred)
    }
    val cells = assigned.groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    val perLabel = cells.groupBy(_._1._1)
      .map { case (l, m) => l -> m.values.sum }
    assert(out.keySet == cells.keySet)
    cells.foreach { case ((l, p), n) =>
      assert(out((l, p)) ==
        ((n, r6(n.toDouble / perLabel(l).toDouble))),
        s"cell ($l, $p) diverged")
    }
    assert(cells.values.sum == vecs.length.toLong,
      "every vector assigned exactly once")
  }

  test("q234 KS drift equals a sequential CDF-gap recompute and reads " +
      "stable on the stationary stream") {
    val out = Drift.q234KsDrift(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)),
        (r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    val evs = Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val cut = (evs.map(_._1).min + evs.map(_._1).max) / 2
    val flagged = evs.map(e => (e._2, e._3, e._1 < cut))
    val edges = (1 to 9).map(i =>
      r6(pct(flagged.filter(_._3).map(_._2), i / 10.0)))
    def bucket(v: Double): Int = edges.count(v >= _)
    flagged.groupBy(_._1).foreach { case (t, rows) =>
      val byBucket = rows.groupBy(r => bucket(r._2)).toSeq.sortBy(_._1)
      val nr = byBucket.map(_._2.count(_._3).toLong)
      val nc = byBucket.map(_._2.count(!_._3).toLong)
      val (tr, tc) = (nr.sum, nc.sum)
      val gaps = byBucket.indices.map { i =>
        math.abs(nr.take(i + 1).sum.toDouble / tr.toDouble -
          nc.take(i + 1).sum.toDouble / tc.toDouble)
      }
      val ks = r6(gaps.max)
      val dCrit = r6(Drift.KsCoeff05 * math.sqrt(
        (tr + tc).toDouble / (tr.toDouble * tc.toDouble)))
      val verdict = if (ks > dCrit) "drifted" else "stable"
      assert(out(t) == (((tr, tc), (ks, dCrit, verdict))),
        s"type $t diverged")
      assert(verdict == "stable",
        s"stationary synthetic stream must read stable ($t)")
    }
  }
}
