package graft

import org.apache.spark.sql.functions._

import graft.functions.{BottomKAggregator, Hashing}
import graft.operators.{AnnRetrieval, Calibration, Curation2, Evaluation, ExactSubstr, FeaturePrep, Mmr, SketchAlgebra, TextOps, TrainingPipeline}
import graft.sources.Tables

/** Independent-formulation semantics pins for the round-10 operators
  * (q217 KMV sketch, q218 split-conformal, q219 span excision, q220
  * epoch shuffle): each is recomputed sequentially from the same
  * fixture with plain Scala collections and compared exactly. */
class Round10Spec extends SparkTestBase {

  test("BottomKAggregator: reduce/merge equal the k smallest distinct " +
      "values regardless of partitioning") {
    val agg = new BottomKAggregator(8)
    val xs = Seq(5L, 3L, 9L, 3L, 1L, 14L, 7L, 2L, 11L, 2L, 6L, 8L, 10L,
      1L, 12L)
    val expected = xs.distinct.sorted.take(8)
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    assert(whole.toSeq == expected)
    // merge of arbitrary splits == whole
    for (cut <- Seq(1, 4, 7, 14)) {
      val (a, b) = xs.splitAt(cut)
      val merged = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      assert(merged.toSeq == expected, s"split at $cut diverged")
    }
    // duplicates never inflate the sketch
    assert(agg.reduce(whole, 3L).toSeq == expected)
  }

  test("q217 KMV sketch equals a sequential bottom-k of the distinct " +
      "user hashes, and the __all row merges losslessly") {
    val out = SketchAlgebra.q217KmvDistinct(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toMap
    val evs = Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def sketchOf(hs: Set[Long]): Seq[Long] =
      hs.toSeq.sorted.take(SketchAlgebra.KmvK)
    def expect(hs: Set[Long]): (Long, Int, Long, Double) = {
      val sk = sketchOf(hs)
      val est =
        if (sk.size < SketchAlgebra.KmvK) sk.size.toDouble
        else (SketchAlgebra.KmvK - 1).toDouble * 1152921504606846976d /
          sk.last.toDouble
      (hs.size.toLong, sk.size, sk.last,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
    val byType = evs.groupBy(_._1).map { case (t, rows) =>
      t -> rows.map(r => Hashing.md5Hash60Value(s"kmv:${r._2}")).toSet
    }
    byType.foreach { case (t, hs) =>
      assert(out(t) == expect(hs), s"type $t diverged")
    }
    // __all from merged sketches == bottom-k of the union of sets
    val allHs = byType.values.reduce(_ ++ _)
    assert(out("__all") == expect(allHs))
  }

  test("q218 split-conformal threshold and coverage equal a sequential " +
      "recompute, and the threshold rank is the finite-sample quantile") {
    val out = Calibration.q218ConformalThreshold(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toMap
    val rows = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    val bySeg = rows.groupBy(_._2)
    bySeg.foreach { case (seg, rs) =>
      val (cal, ev) = rs.partition(r =>
        Hashing.md5Hash60Value(s"conf:${r._1}") % 2 == 0)
      val nCal = cal.length.toLong
      val sum = cal.map(_._3).sum
      def score(r: (Long, String, Long)): Long = math.abs(r._3 * nCal - sum)
      val m = ((nCal + 1) * Calibration.ConfNum + Calibration.ConfDen - 1) /
        Calibration.ConfDen
      val thr = cal.map(r => (score(r), r._1)).sorted.apply(m.toInt - 1)._1
      val covered = ev.count(r => score(r) <= thr).toLong
      val coverage = BigDecimal(covered.toDouble / ev.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(seg) == ((nCal, ev.length.toLong, m, thr, coverage,
        covered * Calibration.ConfDen >= ev.length * Calibration.ConfNum)),
        s"segment $seg diverged")
      assert(m <= nCal, s"fixture must support the quantile rank ($seg)")
    }
  }

  test("q219 span excision equals a sequential interval-union recompute") {
    val out = ExactSubstr.q219SpanExcision(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val W = 8
    // all window occurrences, globally ordered per hash
    val occ = docs.flatMap { case (id, _, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < W) Seq.empty
      else (1 to (ws.length - W + 1)).map { i =>
        val h = {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(ws.slice(i - 1, i + W - 1).mkString(" ")
              .getBytes("UTF-8"))
          d.map("%02x".format(_)).mkString
        }
        (h, id, i)
      }
    }
    val dupByDoc = occ.groupBy(_._1).values.flatMap { os =>
      os.sortBy(o => (o._2, o._3)).drop(1)
    }.toSeq.groupBy(_._2)
    def unionLen(intervals: Seq[(Int, Int)]): (Long, Long) = {
      var spans = 0L; var words = 0L
      var curS = -1; var curE = -2
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE >= curS) { spans += 1; words += curE - curS + 1 }
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (curE >= curS) { spans += 1; words += curE - curS + 1 }
      (words, spans)
    }
    val perSource = docs.groupBy(_._2).map { case (src, ds) =>
      val words = ds.map(_._3.split(" ", -1).length.toLong).sum
      val touched = ds.count(d => dupByDoc.contains(d._1)).toLong
      val (ex, sp) = ds.map { d =>
        dupByDoc.get(d._1) match {
          case Some(os) => unionLen(os.map(o => (o._3, o._3 + W - 1)))
          case None => (0L, 0L)
        }
      }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      src -> ((ds.length.toLong, touched, words, ex, sp))
    }
    perSource.foreach { case (src, exp) =>
      assert(out(src) == exp, s"source $src diverged: ${out(src)} vs $exp")
    }
    assert(perSource.values.exists(_._2 > 0), "fixture has excisions")
  }

  test("q220 epoch shuffle: per-epoch checksums match a sequential " +
      "replay of the permutation and differ across epochs") {
    val out = TrainingPipeline.q220EpochShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val ids = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0))
    val nShards = math.max(4L, ids.length / TrainingPipeline.ShardTarget)
    (1 to TrainingPipeline.ShuffleEpochs).foreach { e =>
      val keyed = ids.map { id =>
        val h = Hashing.md5Hash60Value(s"ep:$e:$id")
        (h % nShards, h, id)
      }
      // .toSeq first: mapping a Map to (size, checksum) tuples would
      // rebuild a Map keyed on size and silently dedup equal-size shards
      val perShard = keyed.groupBy(_._1).toSeq.map { case (_, rows) =>
        val sorted = rows.sortBy(r => (r._2, r._3))
        (rows.length.toLong,
          sorted.zipWithIndex.map { case (r, i) => (i + 1) * r._3 }.sum)
      }
      val exp = (ids.length.toLong, perShard.size.toLong,
        perShard.map(_._1).min, perShard.map(_._1).max,
        perShard.map(_._2).sum)
      assert(out(e.toLong) == exp, s"epoch $e diverged")
    }
    // the salt gives each epoch a different order
    assert(out.values.map(_._5).toSet.size == TrainingPipeline.ShuffleEpochs)
  }

  test("q221 bigram coverage equals a sequential Zipf-curve recompute") {
    val out = TextOps.q221VocabCoverage(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val texts = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val ws = t.trim.split(" ", -1)
      if (ws.length >= 2)
        ws.sliding(2).foreach { p =>
          val bg = p.mkString(" ")
          counts(bg) = counts.getOrElse(bg, 0L) + 1L
        }
    }
    val total = counts.values.sum
    val ranked = counts.toSeq.sortBy { case (u, n) => (-n, u) }
    TextOps.CoverageNs.foreach { n =>
      val top = ranked.take(n)
      assert(out(n) == ((top.size.toLong, counts.size.toLong,
        top.map(_._2).sum, total)), s"budget $n diverged")
    }
    // the curve is non-degenerate on this fixture
    assert(out(TextOps.CoverageNs.head)._3 < total)
  }

  test("q222 replicate means equal a sequential hash-subsample replay") {
    val out = Evaluation.q222MetricStability(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(7))).toMap
    val evs = Tables.events(spark, sf)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    evs.groupBy(_._1).foreach { case (t, rows) =>
      val fullMean = rows.map(_._3).sum.toDouble / rows.length / 100.0
      val means = (0 until Evaluation.StabilityReps).map { b =>
        val sub = rows.filter(r =>
          ((Hashing.md5Hash60Value(s"boot:${r._2}") >> b) & 1L) == 1L)
        sub.map(_._3).sum.toDouble / sub.length / 100.0
      }
      val within = means.count(m => math.abs(m - fullMean) <=
        fullMean * 0.01).toLong
      assert(out(t) == ((rows.length.toLong,
        Evaluation.StabilityReps.toLong, r6(means.min), r6(means.max),
        within)), s"type $t diverged")
    }
  }

  test("q223 centroid cosines equal a sequential micro-quantized " +
      "recompute and the classes are separable on this fixture") {
    val out = AnnRetrieval.q223CentroidSeparation(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(4)).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    // HALF_UP (away from zero), matching SQL round(): math.round would
    // send -x.5 toward +inf and diverge on negative coordinates
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val cents = vecs.groupBy(_._1).map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> Array.tabulate(dim) { d =>
        val s = vs.map(v => rnd(v._2(d).toDouble * 1000000)).sum
        rnd(s.toDouble / vs.length)
      }
    }
    out.keys.foreach { case (la, lb) =>
      val (ca, cb) = (cents(la), cents(lb))
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val na2 = ca.map(x => x * x).sum
      val nb2 = cb.map(x => x * x).sum
      val cos = dot.toDouble / (math.sqrt(na2.toDouble) *
        math.sqrt(nb2.toDouble))
      assert(out((la, lb)) == r6(cos), s"pair ($la,$lb) diverged")
    }
    // separability: every inter-class centroid pair is far from parallel
    assert(out.values.forall(c => math.abs(c) < 0.5))
  }

  test("q225 weighted median equals a sequential cumulative-weight " +
      "selection and weighting genuinely moves the statistic") {
    import graft.operators.Curation2
    val out = Curation2.q225WeightedMedian(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split(" ", -1).length.toLong, r.getLong(3)))
    docs.groupBy(_._2).foreach { case (src, ds) =>
      val sorted = ds.sortBy(d => (d._3, d._1))
      val totW = ds.map(_._4).sum
      var cw = 0L
      val wm = sorted.find { d => cw += d._4; cw * 2 >= totW }.get._3
      val um = sorted((ds.length - 1) / 2)._3
      assert(out(src) == ((ds.length.toLong, totW, wm, um)),
        s"source $src diverged: ${out(src)} vs (${ds.length}, $totW, $wm, $um)")
    }
    assert(out.values.exists(v => v._3 != v._4),
      "weighted and unweighted medians should differ somewhere")
  }

  test("q226 cumulative KMV from daily sketches equals the bottom-k " +
      "of the cumulative distinct set (lossless sketch merge)") {
    import graft.operators.SketchAlgebra
    val out = SketchAlgebra.q226IncrementalKmv(spark, sf).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    val evs = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d"), col("user_id")).collect()
      .map(r => (r.getDate(0).toString,
        Hashing.md5Hash60Value(s"kmv:${r.getLong(1)}")))
    val k = SketchAlgebra.KmvK
    val byDay = evs.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val days = byDay.keys.toSeq.sorted
    // daily sketches = per-day bottom-k; cumulative sketch re-merged
    // from SKETCHES must equal bottom-k of the union of daily SETS
    val dailySk = byDay.view.mapValues(_.toSeq.sorted.take(k)).toMap
    days.foreach { d =>
      val upTo = days.filter(_ <= d)
      val mergedFromSketches =
        upTo.flatMap(dailySk).distinct.sorted.take(k)
      val full = upTo.flatMap(byDay).toSet
      assert(mergedFromSketches == full.toSeq.sorted.take(k),
        s"sketch merge lossy at $d")
      val sk = mergedFromSketches
      val est =
        if (sk.size < k) sk.size.toDouble
        else (k - 1).toDouble * 1152921504606846976d / sk.last.toDouble
      val newUsers = byDay(d) --
        days.filter(_ < d).flatMap(byDay).toSet
      assert(out(d) == ((newUsers.size.toLong, full.size.toLong, sk.size,
        BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)), s"day $d diverged")
    }
  }

  test("q228 KMV Jaccard equals a sequential sketch replay and tracks " +
      "the exact Jaccard within sketch error") {
    import graft.operators.SketchAlgebra
    val out = SketchAlgebra.q228KmvJaccard(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val k = SketchAlgebra.KmvK
    val vocab = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .flatMap { r =>
        val ws = r.getString(1).trim.split(" ", -1)
        if (ws.length < 2) Seq.empty
        else ws.sliding(2).map(p =>
          r.getString(0) ->
            Hashing.md5Hash60Value(s"kmvj:${p.mkString(" ")}")).toSeq
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sk = vocab.view.mapValues(_.toSeq.sorted.take(k).toSet).toMap
    var maxErr = 0.0
    out.keys.foreach { case (a, b) =>
      val unionSk = (sk(a) ++ sk(b)).toSeq.sorted.take(k)
      val both = unionSk.count(h => sk(a)(h) && sk(b)(h)).toLong
      val est = both.toDouble / unionSk.size
      val inter = (vocab(a) & vocab(b)).size
      val exact = inter.toDouble / (vocab(a).size + vocab(b).size - inter)
      assert(out((a, b)) == ((unionSk.size.toLong, both, r6(est),
        r6(exact))), s"pair ($a,$b) diverged")
      maxErr = math.max(maxErr, math.abs(est - exact))
    }
    // estimator quality: worst-case error stays within a few standard
    // errors of 1/sqrt(k) on this fixture
    assert(maxErr < 3.0 / math.sqrt(k.toDouble), s"maxErr=$maxErr")
  }

  test("q227 feature correlations equal a sequential sufficient-" +
      "statistics recompute") {
    import graft.operators.FeaturePrep
    val out = FeaturePrep.q227FeatureCorr(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val feats = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        to_date(col("ts")).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDate(3).toString))
      .groupBy(_._1).values.map { rows =>
        Map(
          "f_events" -> rows.size.toLong,
          "f_spend" -> rows.map(_._3).sum,
          "f_purchases" -> rows.count(_._2 == "purchase").toLong,
          "f_days" -> rows.map(_._4).toSet.size.toLong)
      }.toSeq
    val n = feats.size.toLong
    FeaturePrep.CorrFeatures.combinations(2).foreach { case Seq(a, b) =>
      val sx = feats.map(_(a)).sum; val sy = feats.map(_(b)).sum
      val sxx = feats.map(f => f(a) * f(a)).sum
      val syy = feats.map(f => f(b) * f(b)).sum
      val sxy = feats.map(f => f(a) * f(b)).sum
      // the engine forms the moment products in doubles (int64-safe at
      // any scale); mirror the exact op shapes
      val r = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (math.sqrt(n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble) *
          math.sqrt(n.toDouble * syy.toDouble - sy.toDouble * sy.toDouble))
      val r6 = BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(out((a, b)) == ((n, r6)), s"pair ($a,$b) diverged")
    }
  }

  test("q224 MMR selection equals a sequential greedy replay over an " +
      "independently re-derived LSH pool, genuinely diversifies, and " +
      "the LSH pool keeps recall vs the brute top-pool ground truth") {
    import graft.operators.Mmr
    val out = Mmr.q224MmrRetrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val raw = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .toMap
    val vecs = raw.map { case (id, e) =>
      id -> e.map(v => rnd(v.toDouble * 1000000))
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    // --- independent pool re-derivation (sequential Scala, no Spark):
    // md5 planes, floor(x*1000) quantization, adaptive band width from
    // the corpus count, MSB-first packing, hot-cap, multi-probe flips
    val n = raw.size.toLong
    val b = Mmr.mmrBandBits(n)
    val dim = raw.values.head.length
    val planes = Mmr.mmrPlanes(dim, b)
    def bandsOf(e: Array[Float]): Seq[(Int, Long)] = {
      val xq = e.map(x => math.floor(x.toDouble * 1000.0))
      val bits = planes.map { p =>
        if (p.zip(xq).map { case (c, q) => c * q }.sum > 0) 1L else 0L
      }
      (0 until Mmr.MmrBands).map { k =>
        (k, (0 until b).foldLeft(0L)((acc, j) =>
          acc * 2L + bits(k * b + j)))
      }
    }
    val allBands = raw.map { case (id, e) => id -> bandsOf(e) }
    val bucketN = allBands.values.flatten
      .groupBy(identity).map { case (kv, g) => kv -> g.size }
    val ok: Map[Long, Seq[(Int, Long)]] = allBands.map { case (id, bs) =>
      id -> bs.filter(kv => bucketN(kv) <= Mmr.MmrHotCap)
    }
    val bucketMembers = ok.toSeq
      .flatMap { case (id, bs) => bs.map(kv => kv -> id) }
      .groupBy(_._1).map { case (kv, g) => kv -> g.map(_._2).toSet }
    def lshCandidates(qid: Long): Set[Long] =
      ok(qid).flatMap { case (k, v) =>
        val probes = v +: (0 until b).map(j => v ^ (1L << j))
        probes.flatMap(pv => bucketMembers.getOrElse((k, pv), Set.empty))
      }.toSet - qid
    val lam = Mmr.MmrLambdaPct / 100.0
    val om = (100 - Mmr.MmrLambdaPct) / 100.0
    var diversified = false
    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    graft.operators.Similarity.queryIdSetSeq(vecs.keys.toSeq).foreach { qid =>
      val pool = lshCandidates(qid).toSeq
        .map(c => c -> cos(vecs(qid), vecs(c)))
        .sortBy { case (c, rel) => (-rel, c) }
        .take(Mmr.MmrPool)
      val brute = vecs.keys.filter(_ != qid).toSeq
        .map(c => c -> cos(vecs(qid), vecs(c)))
        .sortBy { case (c, rel) => (-rel, c) }
        .take(Mmr.MmrPool).map(_._1).toSet
      recalls += pool.map(_._1).count(brute.contains).toDouble /
        Mmr.MmrPool
      var selected = Seq(pool.head._1)
      (2 to Mmr.MmrK).foreach { r =>
        val pick = pool.filterNot(p => selected.contains(p._1))
          .map { case (c, rel) =>
            val ms = selected.map(s => cos(vecs(c), vecs(s))).max
            (c, lam * rel - om * ms)
          }
          .minBy { case (c, score) => (-score, c) }._1
        selected = selected :+ pick
      }
      selected.zipWithIndex.foreach { case (c, i) =>
        assert(out((qid, i + 1)) == c, s"qid $qid round ${i + 1} diverged")
      }
      // diversification: MMR's picks differ from the pure-relevance
      // top-k for at least one query on this fixture
      if (selected != pool.take(Mmr.MmrK).map(_._1)) diversified = true
    }
    assert(diversified)
    // pool quality: the scale-safe LSH pool must keep a usable share
    // of the brute top-pool on this weakly-clustered random fixture
    // (measured ~0.9 at sf0.001; floor pinned with margin)
    val avgRecall = recalls.sum / recalls.size
    assert(avgRecall >= 0.55, s"LSH pool recall $avgRecall below floor")
    // and the Spark-side brute arm agrees with the driver-side brute
    // (the demoted ground-truth kernel stays correct)
    val sparkBrute = Mmr.brutePool(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val someQ = graft.operators.Similarity.queryIdSetSeq(vecs.keys.toSeq).min
    val bruteQ = vecs.keys.filter(_ != someQ).toSeq
      .map(c => c -> cos(vecs(someQ), vecs(c)))
      .sortBy { case (c, rel) => (-rel, c) }
      .take(Mmr.MmrPool).map(_._1).toSet
    assert(sparkBrute(someQ).map(_._2).toSet == bruteQ)
  }
}
