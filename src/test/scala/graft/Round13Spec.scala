package graft

import graft.operators.{AnnIndex, AnnRetrieval, Curation, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-13 additions (q382–q385): each checked against an INDEPENDENT
  * sequential recompute (different formulation than the registered
  * plan), the repo's spec discipline. */
class Round13Spec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q382 split equals a sequential exhaustive-gain replay and " +
      "eta2 is a (0, 1] variance share") {
    val rows = TimeSeries.q382Changepoint(spark, sf).collect()
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1).view
      .mapValues(_.sortBy(_._2.toEpochDay).map(_._3)).toMap
    assert(rows.length == byType.size)
    rows.foreach { r =>
      val xs = byType(r.getString(0))
      val n = xs.length
      val s = xs.sum
      val q2 = xs.map(x => BigInt(x) * x).sum
      // exhaustive sequential gain scan — not the window formulation;
      // argmax on the micro-quantized RELATIVE gain (gain/SSE_total,
      // bounded in [0,1] — round 14, ADVICE r13), ties by earliest day
      val sse = q2.toDouble - s.toDouble * s / n
      val gains = (1 until n).map { k =>
        val sl = xs.take(k).sum
        val g = sl.toDouble * sl / k +
          (s - sl).toDouble * (s - sl) / (n - k) - s.toDouble * s / n
        (k, if (sse > 0) math.round(g / sse * 1e6) else 0L, g)
      }
      val (bestK, _, bestG) =
        gains.minBy { case (k, gu, _) => (-gu, k) }
      assert(r.getLong(1) == n, "n_days")
      val daysSorted = daily.filter(_._1 == r.getString(0))
        .map(_._2).sorted(
          Ordering.fromLessThan[java.time.LocalDate](_ isBefore _))
      assert(r.getDate(2).toLocalDate == daysSorted(bestK - 1),
        s"${r.getString(0)} split day")
      assert(math.abs(r.getDouble(5) - bestG) < 1e-6, "gain")
      if (sse > 0) {
        val eta2 = r.getDouble(6)
        assert(eta2 > 0 && eta2 <= 1 + 1e-9, s"eta2 $eta2 out of (0,1]")
        assert(math.abs(eta2 - bestG / sse) < 1e-6)
      }
    }
  }

  test("q388 depth-2 splits equal a sequential exhaustive two-level " +
      "replay and both gains are nonnegative") {
    val rows = TimeSeries.q388Changepoint2(spark, sf).collect()
    val daily = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1).view
      .mapValues(_.sortBy(_._2.toEpochDay)).toMap
    assert(rows.length == byType.count(_._2.length > 2))
    rows.foreach { r =>
      val seq = byType(r.getString(0))
      val xs = seq.map(_._3)
      val n = xs.length
      val s = xs.sum
      // both levels quantize RELATIVE to the same per-type SSE_total
      // (round 14, ADVICE r13 — bounded argmax key)
      val sse = xs.map(x => BigInt(x) * x).sum.toDouble -
        s.toDouble * s / n
      def gainD(lo: Int, hi: Int, k: Int): Double = {
        // within-segment gain for split at local prefix k of xs(lo until hi)
        val seg = xs.slice(lo, hi)
        val st = seg.sum
        val sl = seg.take(k).sum
        sl.toDouble * sl / k +
          (st - sl).toDouble * (st - sl) / (seg.length - k) -
          st.toDouble * st / seg.length
      }
      def rel(g: Double): Long =
        if (sse > 0) math.round(g / sse * 1e6) else 0L
      val g1 = (1 until n).map(k => (k, rel(gainD(0, n, k)),
        gainD(0, n, k)))
      val (b, _, bestG1) = g1.minBy { case (k, gu, _) => (-gu, k) }
      // level 2: candidates are global indices != b, expressed as
      // within-segment splits
      val g2 = (1 until n).filter(_ != b).map { k =>
        val g = if (k < b) gainD(0, b, k) else gainD(b, n, k - b)
        (k, rel(g), g)
      }
      val (k2g, _, bestG2) = g2.minBy { case (k, gu, _) =>
        (-gu, seq(k - 1)._2.toEpochDay)
      }
      val (k1, k2) = (math.min(b, k2g), math.max(b, k2g))
      assert(r.getLong(1) == n)
      assert(r.getDate(2).toLocalDate == seq(k1 - 1)._2, "split_day_1")
      assert(r.getDate(3).toLocalDate == seq(k2 - 1)._2, "split_day_2")
      val (c1, c2) = (xs.take(k1).sum, xs.take(k2).sum)
      assert(math.abs(r.getDouble(4) - c1.toDouble / k1) < 1e-6, "m1")
      assert(math.abs(r.getDouble(5) -
        (c2 - c1).toDouble / (k2 - k1)) < 1e-6, "m2")
      assert(math.abs(r.getDouble(6) -
        (s - c2).toDouble / (n - k2)) < 1e-6, "m3")
      assert(math.abs(r.getDouble(7) - bestG1) < 1e-6, "gain_first")
      assert(math.abs(r.getDouble(8) - bestG2) < 1e-6, "gain_second")
      assert(bestG1 >= -1e-9 && bestG2 >= -1e-9)
    }
  }

  test("q383 funnel equals a sequential rule replay and attrition is " +
      "monotone") {
    val rows = Curation.q383CurationFunnel(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("source", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expected = docs.groupBy(_._1).view.mapValues { ds =>
      val flags = ds.map { case (_, nChars, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        val nWords = words.length.toLong
        val nWchars = words.map(_.length.toLong).sum
        val r1 = nChars >= Curation.FunnelLenMin &&
          nChars <= Curation.FunnelLenMax
        val r2 = nWords >= Curation.FunnelMinWords
        val r3 = Curation.FunnelMwlMin * nWords <= nWchars &&
          nWchars <= Curation.FunnelMwlMax * nWords
        val r4 = words.exists(Curation.FunnelStops.contains)
        val r5 = Curation.FunnelTtrDen * words.distinct.length >=
          Curation.FunnelTtrNum * nWords
        (r1, r1 && r2, r1 && r2 && r3, r1 && r2 && r3 && r4,
          r1 && r2 && r3 && r4 && r5)
      }
      (ds.length.toLong, flags.count(_._1).toLong,
        flags.count(_._2).toLong, flags.count(_._3).toLong,
        flags.count(_._4).toLong, flags.count(_._5).toLong)
    }.toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val e = expected(r.getString(0))
      val got = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
      assert(got == e, s"${r.getString(0)} funnel mismatch")
      // monotone attrition + exact ppm
      val seq = Seq(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      assert(seq.zip(seq.tail).forall { case (a, b) => a >= b && b >= 0 })
      assert(r.getLong(7) == r.getLong(6) * 1000000L / r.getLong(1))
    }
  }

  test("q384 picks equal a sequential hash-order stride replay and " +
      "the pick budget is exact (floor(total/T) multiplicities)") {
    val rows = Curation.q384TokenBudgetSample(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split(" ").count(_.nonEmpty).toLong))
    val ordered = docs.sortBy { case (id, _) =>
      (md5hex(s"tbsample:$id"), id)
    }
    val t = Curation.TokenStride
    var cum = 0L
    val picks = ordered.flatMap { case (id, w) =>
      val before = cum / t
      cum += w
      val mult = cum / t - before
      if (mult > 0) Some((id, w, cum, mult)) else None
    }
    assert(rows.length == picks.length, "pick count")
    rows.zip(picks).foreach { case (r, (id, w, c, m)) =>
      assert(r.getLong(0) == id && r.getLong(1) == w &&
        r.getLong(2) == c && r.getLong(3) == m)
    }
    val total = docs.map(_._2).sum
    assert(rows.map(_.getLong(3)).sum == total / t,
      "exact budget: one multiplicity per full stride of corpus mass")
  }

  private def embeddingsMicro(): Array[(Long, Int, Array[Long])] =
    graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map { r =>
        (r.getLong(0), r.getInt(1),
          r.getSeq[Float](2).toArray.map(v => rl(v.toDouble * 1e6)))
      }

  test("q386 per-label silhouette equals a sequential centroid replay " +
      "and every per-vector s is in [-1, 1]") {
    val rows = AnnRetrieval.q386SimplifiedSilhouette(spark, sf).collect()
    val vecs = embeddingsMicro()
    val dim = vecs.head._3.length
    val centroids = vecs.groupBy(_._2).view.mapValues { vs =>
      Array.tabulate(dim) { d =>
        val s = vs.map(_._3(d)).sum
        rl(s.toDouble / vs.length)
      }
    }.toMap
    val cNorm2 = centroids.view
      .mapValues(c => c.map(x => BigInt(x) * x).sum).toMap
    val perVec = vecs.map { case (id, label, vm) =>
      val v2 = vm.map(x => BigInt(x) * x).sum
      val cos = centroids.map { case (cl, c) =>
        val dot = vm.indices.map(d => BigInt(vm(d)) * c(d)).sum
        cl -> dot.toDouble /
          (math.sqrt(v2.toDouble) * math.sqrt(cNorm2(cl).toDouble))
      }
      val own = cos(label)
      val other = cos.collect { case (cl, v) if cl != label => v }.max
      val denom = 1 - math.min(own, other)
      val s = if (denom != 0) (own - other) / denom else Double.NaN
      assert(s >= -1 - 1e-9 && s <= 1 + 1e-9, s"s($id) out of range")
      (label, rl(s * 1e6))
    }
    val expected = perVec.groupBy(_._1).view.mapValues { ss =>
      val us = ss.map(_._2)
      (us.length.toLong, us.sum, us.count(_ < 0).toLong, us.min)
    }.toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, sumU, neg, minU) = expected(r.getInt(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - sumU.toDouble / n / 1e6) < 1e-6)
      assert(r.getLong(3) == neg * 1000000L / n, "neg_ppm")
      assert(math.abs(r.getDouble(4) - minU / 1e6) < 1e-9, "worst_sil")
    }
  }

  test("q387 int8 audit equals a sequential quantize-reconstruct " +
      "replay and the coordinate error respects the scale bound") {
    val rows = AnnIndex.q387Int8QuantAudit(spark, sf).collect()
    val vecs = embeddingsMicro()
    val perVec = vecs.flatMap { case (_, label, vm) =>
      val scale = vm.map(math.abs).max
      if (scale <= 0) None
      else {
        val rm = vm.map { x =>
          val code = rl(x * 127.0 / scale)
          rl(code * scale / 127.0)
        }
        val errs = vm.indices.map(d => vm(d) - rm(d))
        // |err| <= scale/(2*127) quantization + 1 for the two roundings
        assert(errs.map(math.abs).max <= scale / 254 + 1,
          "per-coordinate error bound")
        val dot = vm.indices.map(d => BigInt(vm(d)) * rm(d)).sum
        val v2 = vm.map(x => BigInt(x) * x).sum
        val r2 = rm.map(x => BigInt(x) * x).sum
        val e2 = errs.map(e => BigInt(e) * e).sum
        val cosU = rl(dot.toDouble /
          (math.sqrt(v2.toDouble) * math.sqrt(r2.toDouble)) * 1e6)
        Some((label, cosU, e2, v2, errs.map(math.abs).max))
      }
    }
    val expected = perVec.groupBy(_._1).view.mapValues { vs =>
      (vs.length.toLong, vs.map(_._2).sum, vs.map(_._2).min,
        vs.map(_._5).max, vs.map(_._3).sum, vs.map(_._4).sum)
    }.toMap
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, sumCos, minCos, maxErr, e2, v2) = expected(r.getInt(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - sumCos.toDouble / n / 1e6) < 1e-6)
      assert(math.abs(r.getDouble(3) - minCos / 1e6) < 1e-9)
      assert(r.getLong(4) == maxErr)
      assert(math.abs(r.getDouble(5) -
        e2.toDouble / v2.toDouble) < 1e-6)
    }
  }

  test("q385 groups equal a sequential prefix groupBy and respect the " +
      "min-count/order contract") {
    val rows = Curation.q385BoilerplatePrefix(spark, sf).collect()
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text", "source", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    val groups = docs.groupBy(_._2.take(Curation.BoilerPrefixLen))
      .view.mapValues { ds =>
        (ds.length.toLong, ds.map(_._3).distinct.length.toLong,
          ds.map(_._4).distinct.length.toLong, ds.map(_._1).min)
      }.toMap
    val expected = groups.toSeq.filter(_._2._1 >= 2)
      .sortBy { case (p, (n, _, _, _)) => (-n, p) }
      .take(Curation.BoilerTopN)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, (p, (n, srcs, langs, ex))) =>
      assert(r.getString(0) == p && r.getLong(1) == n &&
        r.getLong(2) == srcs && r.getLong(3) == langs &&
        r.getLong(4) == ex)
    }
    assert(rows.forall(_.getLong(1) >= 2))
  }
}
