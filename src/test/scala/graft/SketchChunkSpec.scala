package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Relational, SketchAlgebra}
import graft.sources.Tables

/** Invariants for the round-4 additions: bloom-pruned decontamination
  * (q103), context-window chunking (q104), and the mergeable top-k
  * frequency sketch (q105). Value-level correctness is oracle-checked by
  * Verify/check.py; these assert the laws the oracle can't see. */
class SketchChunkSpec extends SparkTestBase {

  test("q103 bloom pruning is semantics-free: equals the exact anti-join") {
    val got = Curation.q103BloomDecontaminate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact recomputation without the bloom: q66's contaminated set per
    // source over the same corpus slice
    val docs = Tables.documents(spark, sf)
    val contaminatedIds = Curation.q66Contamination(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = docs.filter(col("doc_id") % 97 =!= 0)
      .select("source", "doc_id").collect()
      .groupBy(_.getString(0)).view
      .mapValues { rows =>
        val n = rows.length.toLong
        val c = rows.count(r => contaminatedIds(r.getLong(1))).toLong
        (n, c, n - c)
      }.toMap
    assert(got.nonEmpty)
    got.foreach { case (src, n, c, clean) =>
      assert(expected(src) == ((n, c, clean)), s"source $src")
    }
    assert(got.map(_._1).toSet == expected.keySet)
  }

  test("q103 plan probes the bloom before the exact verification join") {
    val plan = Curation.q103BloomDecontaminate(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from plan:\n$plan")
  }

  test("q104 chunk laws: stride positions, full coverage, exact lengths") {
    val chunks = Curation.q104ChunkDocs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1)
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.keySet == lens.keySet) // every doc chunked, even empty
    chunks.foreach { case (id, cs) =>
      val len = lens(id)
      val sorted = cs.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, ix, start, clen), i) =>
        assert(ix == i, s"doc $id: chunk_ix gap")
        assert(start == 1 + 192 * ix, s"doc $id: start off-stride")
        assert(clen == math.min(256, math.max(0, len - start + 1)),
          s"doc $id chunk $ix: wrong length")
      }
      // last chunk reaches the end of the document; no start beyond it
      val (_, _, lastStart, lastLen) = sorted.last
      if (len > 0) assert(lastStart + lastLen - 1 == len)
      assert(lastStart <= math.max(len, 1) &&
        lastStart + 192 > math.max(len, 1))
    }
  }

  test("q105 merged sketch counts are exact under tracked capacity") {
    val got = SketchAlgebra.q105TopkSketchUnion(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }
    assert(got.toSeq == exact.toSeq)
  }

  test("q124 CDC chunking matches a scala recompute and boundaries " +
      "survive a head insertion (fixed-stride windows don't)") {
    import graft.functions.Hashing.md5Hash60Value
    def chunksOf(text: String): Seq[String] = {
      val ends = (16 until text.length)
        .filter(p => md5Hash60Value(text.substring(p - 16, p)) % 32 == 0)
        .toSeq :+ text.length
      val starts = 0 +: ends.dropRight(1)
      starts.zip(ends).map { case (s, e) => text.substring(s, e) }
    }
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = docs.map { case (id, t) => id -> chunksOf(t) }
    val docsPerHash = byDoc.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val got = Curation.q124CdcChunk(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got.keySet == docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val (n, avgLen, shared) = got(id)
      assert(n == cs.length, s"doc $id chunk count")
      assert(math.abs(avgLen - cs.map(_.length).sum.toDouble / cs.length)
        < 1e-3, s"doc $id avg chunk length")
      assert(shared == cs.count(c => docsPerHash(c) >= 2),
        s"doc $id shared chunks")
    }
    // average chunk length across the corpus is near the divisor (32)
    val allChunks = byDoc.values.flatten
    val grandAvg = allChunks.map(_.length).sum.toDouble / allChunks.size
    assert(grandAvg > 16 && grandAvg < 64, s"grand avg $grandAvg")
    // THE content-defined property: prepend text to a long doc and the
    // boundaries downstream of the edit re-align, so most chunks still
    // dedup against the original; the same edit shifts EVERY fixed
    // 64/32 stride window (q110's rule), killing all window reuse
    val (_, text) = docs.maxBy(_._2.length)
    val edited = "inserted preamble " + text
    val orig = chunksOf(text).toSet
    val post = chunksOf(edited)
    val realigned = post.count(orig)
    assert(realigned.toDouble / post.size >= 0.8,
      s"only $realigned/${post.size} chunks re-aligned after the edit")
    def strideWindows(t: String): Seq[String] =
      (1 to t.length - 63 by 32).map(p => t.substring(p - 1, p + 63))
    val origWin = strideWindows(text).toSet
    assert(strideWindows(edited).count(origWin) == 0,
      "fixed-stride windows unexpectedly survived the head insertion")
  }

  test("q127 incremental chunk dedup matches a scala recompute and an " +
      "exact even-twin is fully known") {
    import graft.functions.Hashing.md5Hash60Value
    def chunksOf(text: String): Seq[String] = {
      val ends = (16 until text.length)
        .filter(p => md5Hash60Value(text.substring(p - 16, p)) % 32 == 0)
        .toSeq :+ text.length
      (0 +: ends.dropRight(1)).zip(ends)
        .map { case (s, e) => text.substring(s, e) }
    }
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val knownHashes = docs.collect {
      case (id, t) if id % 2 == 0 => chunksOf(t)
    }.flatten.toSet
    val got = Curation.q127IncrementalChunkDedup(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == docs.keySet.filter(_ % 2 == 1))
    docs.foreach { case (id, t) =>
      if (id % 2 == 1) {
        val cs = chunksOf(t)
        val (n, known, frac) = got(id)
        assert(n == cs.length, s"doc $id chunk count")
        assert(known == cs.count(knownHashes), s"doc $id known chunks")
        val expectFrac = cs.filter(knownHashes).map(_.length).sum.toDouble /
          cs.map(_.length).sum
        assert(math.abs(frac - expectFrac) < 1e-3, s"doc $id byte frac")
      }
    }
    // non-vacuous both ways: some content is already in the store, some
    // is new
    assert(got.values.exists(_._2 > 0), "no known chunks anywhere")
    assert(got.values.exists(v => v._2 < v._1), "everything already known")
    // an odd doc whose text equals an even doc's must be 100% known
    val evenTexts = docs.collect { case (id, t) if id % 2 == 0 => t }.toSet
    docs.foreach { case (id, t) =>
      if (id % 2 == 1 && evenTexts(t))
        assert(got(id)._3 == 1.0, s"cross-parity twin $id not fully known")
    }
  }

  test("q116 winsorize matches a scala type-7 percentile recompute") {
    val byType = Tables.events(spark, sf)
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val got = Relational.q116Winsorize(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == byType.keySet)
    got.foreach { r =>
      val xs = byType(r.getString(0))
      val (p01, p99) = (pct(xs.toSeq, 0.01), pct(xs.toSeq, 0.99))
      assert(r.getLong(1) == xs.length)
      assert(r.getLong(2) == xs.count(_ < p01), "n_clipped_lo")
      assert(r.getLong(3) == xs.count(_ > p99), "n_clipped_hi")
      assert(math.abs(r.getDouble(4) - p01) < 1e-3, "p01")
      assert(math.abs(r.getDouble(5) - p99) < 1e-3, "p99")
      val wmean = xs.map(x => math.min(math.max(x, p01), p99)).sum / xs.length
      assert(math.abs(r.getDouble(6) - wmean) < 1e-3, "winsorized_mean")
      // containment: the winsorized mean sits inside the clip band
      assert(r.getDouble(6) >= r.getDouble(4) && r.getDouble(6) <= r.getDouble(5))
    }
  }
}
