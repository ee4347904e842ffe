package graft

import graft.operators.{Curation, DedupClusters, Relational, TextOps}

/** Semantic invariants for the second-wave relational breadth and the
  * corpus-curation operators (their value-level correctness is
  * oracle-checked by Verify/check.py; these assert the properties the
  * oracle can't see, like determinism across runs and shape laws). */
class Breadth2CurationSpec extends SparkTestBase {

  test("q54 pivot x q55 unpivot: reshaping preserves totals") {
    val pivoted = Relational.q54Pivot(spark, sf).collect()
    assert(pivoted.nonEmpty)
    // every year row carries 4 quarter columns; their sum equals the
    // year total from the long-form rollup over the same orders measure
    val longForm = Relational.q17Rollup(spark, sf)
      .collect()
      .filter(r => r.getInt(4) == 0 && r.getInt(5) == 0) // detail rows
      .groupBy(_.getInt(0)).view
      .mapValues(_.map(_.getDouble(2)).sum)
    pivoted.foreach { r =>
      val wideSum = (1 to 4).flatMap(i =>
        Option(r.get(i)).map(_.asInstanceOf[Double])).sum
      val expected = longForm(r.getInt(0))
      assert(math.abs(wideSum - expected) < 1.0,
        s"year ${r.getInt(0)}: wide=$wideSum long=$expected")
    }
  }

  test("q56 percentiles are monotone non-decreasing") {
    Relational.q56Percentiles(spark, sf).collect().foreach { r =>
      val ps = (1 to 4).map(r.getDouble)
      assert(ps == ps.sorted, s"non-monotone percentiles $ps")
    }
  }

  test("q62 ntile assigns near-balanced quartiles covering 1..4") {
    val rows = Relational.q62Ntile(spark, sf).collect()
    val byQ = rows.groupBy(_.getInt(2)).view.mapValues(_.size)
    assert(byQ.keySet == Set(1, 2, 3, 4))
    assert(byQ.values.max - byQ.values.min <= 1, s"unbalanced $byQ")
  }

  test("q61 trailing 7d >= daily revenue and matches a scala recompute") {
    val rows = Relational.q61RangeFrame(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getDouble(1), r.getDouble(2)))
    rows.foreach { case (_, rev, t7) => assert(t7 >= rev - 1e-9) }
    val byDay = rows.map { case (d, rev, _) => d -> rev }.toMap
    rows.foreach { case (d, _, t7) =>
      val expect = (0 to 6).flatMap(k => byDay.get(d - k)).sum
      assert(math.abs(expect - t7) < 0.02, s"day $d: $t7 vs $expect")
    }
  }

  test("q64 boilerplate strip removes only top-5 words and keeps order") {
    val rows = Curation.q64BoilerplateStrip(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) > 0) // n_kept
      assert(r.getLong(3) >= 0) // n_removed
    }
    // at least one document lost a word (top-5 words are frequent)
    assert(rows.exists(_.getLong(3) > 0))
  }

  test("q67 repetition ratio in [0,1) and 0 for all-distinct docs") {
    Curation.q67RepetitionScore(spark, sf).collect().foreach { r =>
      val ratio = r.getDouble(2)
      assert(ratio >= 0.0 && ratio < 1.0)
    }
  }

  test("q68 stratified sample is deterministic and downsamples en") {
    val a = Curation.q68StratifiedSample(spark, sf).collect()
    val b = Curation.q68StratifiedSample(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val en = a.find(_.getString(0) == "en").get
    assert(en.getLong(2) < en.getLong(1), "en must be downsampled")
    a.filter(_.getString(0) != "en").foreach { r =>
      assert(r.getLong(2) == r.getLong(1), s"${r.getString(0)} kept whole")
    }
  }

  test("q69 vocab: doc_freq <= total_count and limit respected") {
    val rows = Curation.q69Vocab(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) <= r.getLong(2)))
  }

  test("q66 contamination excludes benchmark docs from the corpus side") {
    Curation.q66Contamination(spark, sf).collect().foreach { r =>
      assert(r.getLong(0) % 97 != 0)
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1)
    }
  }

  test("q112 weighted sample: selects the true k smallest A-ES race keys " +
      "(scala recompute) and is repartition-invariant") {
    val got = Curation.q112WeightedSample(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 100)
    // independent recompute of every doc's exponential race key
    val expected = graft.sources.Tables.documents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
      .filter(_._2 > 0)
      .map { case (id, w) =>
        val h = graft.functions.Hashing.md5Hash60Value(s"ws_$id")
        val u = (h + 1).toDouble / 1152921504606846976.0
        (-math.log(u) / w, id, w)
      }
      .sortBy(t => (t._1, t._2)).take(100)
    assert(got.map(_._2).toSeq == expected.map(_._2).toSeq,
      "sample differs from the ground-truth k smallest keys")
    got.zip(expected).foreach { case ((rank, id, w), (_, eid, ew)) =>
      assert(id == eid && w == ew && rank >= 1 && rank <= 100)
    }
    // weight-proportionality sanity: sampled docs skew long — their mean
    // weight should exceed the corpus mean (weights vary by design)
    val corpusMean = graft.sources.Tables.documents(spark, sf).collect()
      .map(_.getLong(4)).sum.toDouble / 500
    val sampleMean = got.map(_._3).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q117 leakage-safe split: clusters never straddle splits, " +
      "singletons match q97's assignment") {
    import graft.functions.Hashing
    import graft.operators.Dedup
    def splitOf(key: Long): String = {
      val b = Hashing.md5Hash60Value(s"split:$key") % 10
      if (b < 8) "train" else if (b < 9) "val" else "test"
    }
    val clusters = DedupClusters.q73DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allDocs = graft.sources.Tables.documents(spark, sf).collect()
      .map(_.getLong(0))
    // ground truth: group key = cluster label (or own id), every member
    // of one cluster maps to ONE split
    val assignment = allDocs.map(id =>
      id -> splitOf(clusters.getOrElse(id, id))).toMap
    clusters.groupBy(_._2).foreach { case (_, members) =>
      assert(members.keys.map(assignment).toSet.size == 1,
        "cluster straddles splits")
    }
    // and the registered accounting matches that ground truth exactly
    val got = graft.operators.Curation.q117LeakageSafeSplit(spark, sf)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expected = assignment.groupBy(_._2).map { case (s, docs) =>
      val ids = docs.keys.toSeq
      s -> (ids.size.toLong,
        ids.map(id => clusters.getOrElse(id, id)).distinct.size.toLong,
        ids.count(clusters.contains).toLong)
    }
    assert(got == expected)
  }

  test("q118 bigram surprisal matches a scala bigram-model recompute " +
      "and discriminates across the corpus") {
    import graft.operators.TextOps
    val got = TextOps.q118BigramSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .toMap
    val docs = graft.sources.Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ", -1).toSeq)
      .toMap
    val allBg = docs.values.toSeq.flatMap(ws => ws.zip(ws.drop(1)))
    val c2 = allBg.groupBy(identity).map { case (k, v) => k -> v.size }
    val c1 = allBg.groupBy(_._1).map { case (k, v) => k -> v.size }
    def log2(x: Double) = math.log(x) / math.log(2.0)
    docs.foreach { case (id, ws) =>
      val bgs = ws.zip(ws.drop(1))
      val (n, bits) = got(id)
      assert(n == bgs.size, s"doc $id bigram count")
      if (bgs.nonEmpty) {
        val expect =
          bgs.map(b => -log2(c2(b).toDouble / c1(b._1))).sum / bgs.size
        assert(math.abs(bits - expect) < 1e-3,
          s"doc $id: $bits vs $expect")
      }
    }
    // non-vacuous: the conditional model must discriminate across docs
    val scores = got.values.filter(v => v._1 > 0).map(_._2)
    assert(scores.nonEmpty && scores.max - scores.min > 0.1)
  }

  test("q111 LM surprisal matches a scala unigram-model recompute") {
    import graft.operators.TextOps
    val got = TextOps.q111LmSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ", -1).toSeq)
      .toMap
    val ctf = docs.values.flatten.groupBy(identity)
      .map { case (w, xs) => w -> xs.size.toLong }
    val total = ctf.values.sum.toDouble
    def log2(x: Double) = math.log(x) / math.log(2.0)
    docs.foreach { case (id, toks) =>
      val (nTokens, bits) = got(id)
      assert(nTokens == toks.size, s"doc $id token count")
      val expect = toks.map(t => -log2(ctf(t) / total)).sum / toks.size
      assert(math.abs(bits - expect) < 1e-3,
        s"doc $id surprisal $bits vs recompute $expect")
    }
    // the two tails exist: scores vary across the corpus
    val scores = got.values.map(_._2)
    assert(scores.max - scores.min > 0.1, "surprisal should discriminate")
  }

  test("q122 length buckets: quartile edges, waste arithmetic, and the " +
      "baseline row match a scala recompute") {
    val toks = graft.sources.Tables.documents(spark, sf)
      .selectExpr("size(split(trim(text), ' ')) AS n").collect()
      .map(_.getInt(0).toDouble)
    val (e1, e2, e3) =
      (pct(toks.toSeq, 0.25), pct(toks.toSeq, 0.5), pct(toks.toSeq, 0.75))
    def bucketOf(n: Double): Int =
      if (n <= e1) 0 else if (n <= e2) 1 else if (n <= e3) 2 else 3
    val groups = toks.groupBy(bucketOf) + (-1 -> toks)
    val got = graft.operators.TrainingPipeline
      .q122LengthBuckets(spark, sf).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(-1, 0, 1, 2, 3))
    got.foreach { r =>
      val xs = groups(r.getInt(0))
      assert(r.getLong(1) == xs.length, s"bucket ${r.getInt(0)} size")
      assert(r.getInt(2) == xs.min.toInt && r.getInt(3) == xs.max.toInt)
      val waste = 1.0 - xs.sum / (xs.length * xs.max)
      assert(math.abs(r.getDouble(5) - waste) < 1e-6,
        s"bucket ${r.getInt(0)} waste")
    }
    // the point of bucketing: every bucket wastes less padding than the
    // unbucketed baseline (equal only if a bucket is single-valued)
    val base = got.find(_.getInt(0) == -1).get.getDouble(5)
    got.filter(_.getInt(0) >= 0).foreach(r =>
      assert(r.getDouble(5) <= base,
        s"bucket ${r.getInt(0)} beats no-bucketing"))
  }

  test("q123 PMI: pair counts and scores match a scala recompute over " +
      "the top-20 vocabulary") {
    val docWords = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.split(" ").toSet).toMap
    val df = docWords.values.toSeq.flatten.groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    val vocab = df.toSeq.sortBy { case (w, d) => (-d, w) }.take(20).toMap
    val nDocs = docWords.size.toLong
    val pairCounts = docWords.values.toSeq
      .flatMap { ws =>
        val present = ws.filter(vocab.contains).toSeq.sorted
        for (i <- present.indices; j <- i + 1 until present.length)
          yield (present(i), present(j))
      }
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 5)
    def pmi(w1: String, w2: String, both: Long): Double =
      math.log(both.toDouble * nDocs / (vocab(w1) * vocab(w2))) /
        math.log(2.0)
    val expectTop = pairCounts.toSeq
      .map { case ((w1, w2), c) =>
        (w1, w2, c, BigDecimal(pmi(w1, w2, c))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (w1, w2, _, p) => (-p, w1, w2) }.take(30)
    val got = graft.operators.TextOps.q123PmiCooccurrence(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.length == expectTop.length)
    got.zip(expectTop).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3,
        s"pair mismatch: $g vs $e")
      assert(math.abs(g._4 - e._4) < 1e-4, s"pmi mismatch: $g vs $e")
    }
  }

  test("q130 token-budget selection equals a sequential greedy and is " +
      "budget-maximal") {
    val rows = graft.operators.Curation
      .q130TokenBudgetSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    val budget = rows.map(_._3).sum / 4 // floor(0.25 * total)
    // independent sequential greedy over (quality desc, doc_id)
    val order = rows.sortBy { case (id, q, _, _) => (-q, id) }
    var cum = 0L
    val expect = order.map { case (id, _, tok, _) =>
      cum += tok
      id -> (cum <= budget)
    }.toMap
    rows.foreach { case (id, _, _, sel) =>
      assert(sel == expect(id), s"doc $id selection")
    }
    // the selection is budget-maximal: selected mass fits, and adding
    // the best unselected doc would overflow
    val selMass = rows.filter(_._4).map(_._3).sum
    assert(selMass <= budget)
    val firstOut = order.find(o => !expect(o._1))
    firstOut.foreach(o => assert(selMass + o._3 > budget,
      "greedy stopped early: next doc still fits"))
    // non-degenerate: something selected, something dropped
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("q121 adaptive quality: per-source threshold is the exact type-7 " +
      "p25 and kept flags follow it") {
    def pct25(xs: Array[Double]): Double = {
      val s = xs.sorted
      val rank = 0.25 * (s.length - 1)
      val lo = rank.toInt
      val frac = rank - lo
      if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
    }
    val quality = graft.operators.TextOps.q39QualityScore(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val srcOf = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = srcOf.groupBy(_._2)
      .map { case (s, m) => s -> m.keys.toArray.map(quality) }
    val got = graft.operators.TextOps.q121AdaptiveQuality(spark, sf)
      .collect()
    assert(got.map(_.getLong(0)).toSet == quality.keySet)
    got.foreach { r =>
      val (id, src, q, p25, kept) = (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(src == srcOf(id))
      assert(q == quality(id), s"doc $id quality")
      assert(math.abs(p25 - pct25(bySrc(src))) < 2e-6, s"$src p25")
      assert(kept == (q >= p25), s"doc $id kept flag")
    }
    // a p25 cutoff keeps at least ~75% of every source, never all of a
    // source with quality variance
    bySrc.keys.foreach { s =>
      val rows = got.filter(_.getString(1) == s)
      val frac = rows.count(_.getBoolean(4)).toDouble / rows.length
      assert(frac >= 0.74, s"source $s kept fraction $frac")
      if (bySrc(s).distinct.length > 4)
        assert(frac < 1.0, s"source $s filtered nothing")
    }
  }
}
