package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{AnnRetrieval, Contribution, Experiment, Lifecycle}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-second batch
  * (q315 retrieval MAP@10, q316 user influx, q317 segment migration,
  * q318 quantile treatment effects). */
class Round10wSpec extends SparkTestBase {

  test("q315 MAP@10 equals a sequential AP replay over the int-cosine " +
      "ranking") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map { r =>
        (r.getLong(0), r.getInt(1),
          r.getSeq[Float](2).toArray.map(v =>
            BigDecimal(v.toDouble * 1000000d).setScale(0,
              BigDecimal.RoundingMode.HALF_UP).toLong))
      }
    val labelOf = vecs.map(v => v._1 -> v._2).toMap
    val nLabel = vecs.groupBy(_._2).map { case (l, xs) =>
      l -> xs.length.toLong }
    val qset = graft.operators.Similarity.queryIdSetSeq(vecs.map(_._1).toSeq).toSet
    val queries = vecs.filter(v => qset.contains(v._1))
    val apByQuery = queries.map { case (qid, ql, qv) =>
      val ranked = vecs.filter(_._1 != qid).map { case (cid, cl, cv) =>
        val dot = qv.zip(cv).map { case (x, y) => x * y }.sum
        val n2 = cv.map(x => x * x).sum
        (cid, cl, dot.toDouble / math.sqrt(n2.toDouble))
      }.sortBy(t => (-t._3, t._1)).take(10)
      var cum = 0L
      var sMu = 0L
      var hits = 0L
      ranked.zipWithIndex.foreach { case ((_, cl, _), i) =>
        if (cl == ql) {
          cum += 1; hits += 1
          sMu += BigDecimal(cum * 1e6 / (i + 1)).setScale(0,
            BigDecimal.RoundingMode.HALF_UP).toLong
        }
      }
      val denom = math.min(nLabel(ql) - 1, 10L)
      val apMu = BigDecimal(sMu.toDouble / denom).setScale(0,
        BigDecimal.RoundingMode.HALF_UP).toLong
      (ql, apMu, hits)
    }
    val got = AnnRetrieval.q315RetrievalMap(spark, sf).collect()
    got.foreach { r =>
      val qs = apByQuery.filter(_._1 == r.getInt(0))
      assert(r.getLong(1) == qs.length.toLong)
      assert(r.getDouble(2) ==
        rN(qs.map(_._2).sum.toDouble / qs.length / 1e6, 6),
        s"label ${r.getInt(0)} map")
      assert(r.getDouble(3) ==
        rN(qs.map(_._3).sum.toDouble / qs.length, 4))
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1 + 1e-9)
    }
  }

  test("q316 influx equals a sequential replay and new users are a " +
      "subset of h2 users") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val cut = (ev.map(_._3).min + ev.map(_._3).max) / 2
    val firstSeen = ev.groupBy(_._2).map { case (u, xs) =>
      u -> xs.map(_._3).min }
    val got = Lifecycle.q316UserInflux(spark, sf).collect()
    got.foreach { r =>
      val h2 = ev.filter(e => e._1 == r.getString(0) && e._3 >= cut)
      val users = h2.map(_._2).distinct
      val newU = users.filter(u => firstSeen(u) >= cut)
      val newEv = h2.count(e => firstSeen(e._2) >= cut).toLong
      assert(r.getLong(1) == users.length.toLong)
      assert(r.getLong(2) == newU.length.toLong)
      assert(r.getDouble(3) ==
        rN(newU.length.toDouble / users.length, 6))
      assert(r.getDouble(4) == rN(newEv.toDouble / h2.length, 6))
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("q317 migration matrix equals a sequential tercile replay and " +
      "conserves the customer universe") {
    val ord = Tables.orders(spark, sf)
      .select(unix_micros(col("o_orderdate")).as("us"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = (ord.map(_._1).min + ord.map(_._1).max) / 2
    val spend = ord.groupBy(_._2).map { case (u, xs) =>
      val s1 = xs.filter(_._1 < cut).map(_._3)
      val s2 = xs.filter(_._1 >= cut).map(_._3)
      (u, if (s1.isEmpty) None else Some(s1.sum),
        if (s2.isEmpty) None else Some(s2.sum))
    }.toSeq
    def segs(vs: Seq[Long]): (Double, Double) =
      (rN(pct(vs, 0.3333333333333333), 6),
        rN(pct(vs, 0.6666666666666666), 6))
    val (e11, e12) = segs(spend.flatMap(_._2))
    val (e21, e22) = segs(spend.flatMap(_._3))
    def seg(v: Option[Long], e1: Double, e2: Double): String = v match {
      case None => "none"
      case Some(x) if x.toDouble <= e1 => "low"
      case Some(x) if x.toDouble <= e2 => "mid"
      case _ => "high"
    }
    val matrix = spend.groupBy(t =>
      (seg(t._2, e11, e12), seg(t._3, e21, e22)))
      .map { case (k, xs) => k -> xs.length.toLong }
    val got = Contribution.q317SegmentMigration(spark, sf).collect()
    assert(got.map(_.getLong(2)).sum == spend.length.toLong,
      "universe conservation")
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(matrix(k) == r.getLong(2), s"cell $k")
      assert(r.getDouble(3) ==
        rN(matrix(k).toDouble / spend.length, 6))
    }
    assert(got.length == matrix.size)
  }

  test("q318 QTE equals a sequential per-arm quantile replay") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def inA(u: Long): Boolean = Hashing.md5Hash60Value(s"arm:$u") % 2 == 0
    val got = Experiment.q318QuantileEffects(spark, sf).collect()
    got.foreach { r =>
      val rows = ev.filter(_._1 == r.getString(0))
      val (as, bs) = rows.partition(t => inA(t._2))
      val p = r.getInt(1) / 100.0
      val qa = pct(as.map(_._3), p)
      val qb = pct(bs.map(_._3), p)
      assert(r.getDouble(2) == rN(qa / 100, 4), s"${r.getString(0)} qa")
      assert(r.getDouble(3) == rN(qb / 100, 4))
      assert(r.getDouble(4) == rN((qa - qb) / 100, 4) + 0.0)
    }
    // 9 probes per type
    assert(got.groupBy(_.getString(0)).forall(_._2.length == 9))
  }
}
