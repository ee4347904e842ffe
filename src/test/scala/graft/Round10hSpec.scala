package graft

import org.apache.spark.sql.functions._

import graft.operators.{Audit, TextOps}
import graft.sources.Tables

/** Independent-formulation pins for q256 (classification report) and
  * q257 (cardinality-estimator calibration). */
class Round10hSpec extends SparkTestBase {

  test("q256 classification report equals a sequential confusion " +
      "recompute over the q38 predictions") {
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val out = TextOps.q256ClassReport(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)), (opt(r, 4), r.getDouble(5), opt(r, 6),
        r.getDouble(7), r.getDouble(8)))).toMap
    val preds = TextOps.q38LangId(spark, sf)
      .select("lang", "pred_lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val classes = preds.map(_._1).distinct.sorted
    val f1s = classes.map { c =>
      val tp = preds.count(p => p._1 == c && p._2 == c).toLong
      val nGold = preds.count(_._1 == c).toLong
      val nPred = preds.count(_._2 == c).toLong
      val p = if (nPred > 0) Some(tp.toDouble / nPred) else None
      val r = tp.toDouble / nGold
      val f1 = p.flatMap(pv =>
        if (pv + r > 0.0) Some(2.0 * pv * r / (pv + r)) else None)
      c -> (nGold, nPred, tp, p, r, f1)
    }.toMap
    val acc = preds.count(p => p._1 == p._2).toDouble / preds.length
    val macroF1 = classes.map(c =>
      BigDecimal(f1s(c)._6.getOrElse(0.0) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      .sum.toDouble / classes.length / 1e6
    classes.foreach { c =>
      val (nGold, nPred, tp, p, r, f1) = f1s(c)
      assert(out(c) == (((nGold, nPred, tp),
        (p.map(r6), r6(r), f1.map(r6), r6(acc), r6(macroF1)))),
        s"class $c diverged")
    }
    assert(out.size == classes.length)
  }

  test("q255 retrieval MRR equals a sequential exact-cosine ranking " +
      "replay; hits@1 <= hits@10 <= n_queries") {
    val out = graft.operators.AnnRetrieval.q255RetrievalMrr(spark, sf)
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => BigDecimal(v.toDouble * 1000000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)))
    val norms = vecs.map(v => v._1 ->
      math.sqrt(v._3.map(x => x * x).sum.toDouble)).toMap
    val qset = graft.operators.Similarity.queryIdSetSeq(vecs.map(_._1).toSeq).toSet
    val queries = vecs.filter(v => qset.contains(v._1))
    val perQuery = queries.map { case (qid, qlabel, qv) =>
      val ranked = vecs.filter(_._1 != qid).map { case (cid, clabel, cv) =>
        val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
        (cid, clabel, dot.toDouble / norms(cid))
      }.sortBy(c => (-c._3, c._1))
      val first = ranked.zipWithIndex
        .collectFirst { case ((_, cl, _), ix) if cl == qlabel => ix + 1 }
      (qlabel, first)
    }
    perQuery.groupBy(_._1).foreach { case (label, qs) =>
      val rrSum = qs.map(_._2.map(r =>
        BigDecimal(1e6 / r).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toLong).getOrElse(0L)).sum
      val mrr = r6(rrSum.toDouble / qs.length / 1e6)
      val h1 = qs.count(_._2.contains(1)).toLong
      val h10 = qs.count(_._2.exists(_ <= 10)).toLong
      assert(out(label) == ((qs.length.toLong, mrr, h1, h10)),
        s"label $label diverged")
      assert(h1 <= h10 && h10 <= qs.length)
    }
  }

  test("q257 cardinality calibration equals a sequential profile " +
      "recompute, and key-FK joins have q-error 1") {
    val out = Audit.q257CardCalibration(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)),
          (r.getDouble(6), r.getLong(7),
            if (r.isNullAt(8)) None else Some(r.getDouble(8))))).toMap
    def keys(rel: String, k: String): Seq[Long] = (rel match {
      case "customer" => Tables.customer(spark, sf)
      case "orders" => Tables.orders(spark, sf)
      case "lineitem" => Tables.lineitem(spark, sf)
      case "part" => Tables.part(spark, sf)
      case "supplier" => Tables.supplier(spark, sf)
      case "events" => Tables.events(spark, sf)
    }).select(col(k).cast("long")).collect().map(_.getLong(0)).toSeq
    Audit.CardJoins.foreach { case (ra, ka, rb, kb) =>
      val a = keys(ra, ka); val b = keys(rb, kb)
      val pa = a.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val pb = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val (na, ndva) = (a.length.toLong, pa.size.toLong)
      val (nb, ndvb) = (b.length.toLong, pb.size.toLong)
      val actual = pa.map { case (k, ca) =>
        ca * pb.getOrElse(k, 0L) }.sum
      val est = na.toDouble * nb.toDouble / math.max(ndva, ndvb).toDouble
      val qe = if (actual > 0)
        Some(r4(math.max(est / actual.toDouble, actual.toDouble / est)))
      else None
      assert(out((s"$ra⋈$rb", ka)) == (((na, nb, ndva, ndvb),
        (r2(est), actual, qe))), s"join $ra⋈$rb diverged")
    }
    // the l_orderkey⋈o_orderkey join is key-complete on the PK side:
    // the uniform estimate is exact there
    assert(out(("lineitem⋈orders", "l_orderkey"))._2._3.contains(1.0))
  }
}
