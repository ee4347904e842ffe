package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Curation, Materialize, Multimodal}

/** Round-14 additions (q389 composed materialization, q390 cross-modal
  * audit): each checked against an INDEPENDENT sequential recompute
  * (plain Scala collections, not the window/join formulation), the
  * repo's spec discipline — differential oracles share definitions, so
  * a definition wrong on both sides only dies here. */
class Round14Spec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val P = 1000000007L
  private def perm(j: Int, x: Long): Long = {
    val a = (2654435761L * (j + 1)) % P
    val b = (123456789L * (j + 1) + 987654321L) % P
    (a * (x % P) + b) % P
  }

  test("q389 stage attrition equals a sequential pipeline replay") {
    val rows = Materialize.q389TrainingMaterialization(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    val stops = Curation.FunnelStops.toSet
    def tokens(text: String): Seq[String] =
      text.split(" ", -1).toSeq.filter(_.nonEmpty)
    // stage 1: gates, replayed rule by rule
    val gated = docs.filter { case (_, text, nChars) =>
      val w = tokens(text)
      val nw = w.length.toLong
      val nwc = text.replace(" ", "").length.toLong
      nChars >= Curation.FunnelLenMin &&
        nChars <= Curation.FunnelLenMax &&
        nw >= Curation.FunnelMinWords &&
        Curation.FunnelMwlMin * nw <= nwc &&
        nwc <= Curation.FunnelMwlMax * nw &&
        w.exists(stops.contains) &&
        Curation.FunnelTtrDen * w.distinct.length >=
          Curation.FunnelTtrNum * nw
    }
    // stage 2: exact dedup (min doc_id per identical text)
    val canon = gated.groupBy(_._2).view
      .mapValues(_.map(_._1).min).toMap
    val exact = gated.filter { case (id, text, _) => canon(text) == id }
    // stage 3: minhash near-dup — drop d iff an earlier survivor
    // shares >= NearDupBands of 4 band signatures (raw split, as the
    // registered shingler)
    def bandSigs(text: String): Seq[String] = {
      val words = text.split(" ", -1)
      val shingles = (if (words.length >= 3)
        words.sliding(3).map(_.mkString(" ")).toSeq
      else Seq.empty).distinct
      if (shingles.isEmpty) Seq.empty
      else {
        val mh = (0 to 15).map { j =>
          shingles.map(s =>
            perm(j, Hashing.md5Hash60Value(s))).min
        }
        (0 to 3).map(b =>
          md5hex((0 to 3).map(i => mh(b * 4 + i)).mkString("_")))
      }
    }
    val sigsById = exact.map { case (id, text, _) =>
      id -> bandSigs(text)
    }
    val near = exact.filter { case (id, _, _) =>
      val mine = sigsById.find(_._1 == id).get._2
      !sigsById.exists { case (other, sigs) =>
        other < id && sigs.nonEmpty &&
          sigs.zip(mine).count { case (a, b) => a == b } >=
            Materialize.NearDupBands
      }
    }
    // stage 4: decontamination (5-gram overlap with the % 97 holdout,
    // raw split as the registered gram builder; holdout docs leave too)
    def grams(text: String): Set[String] = {
      val words = text.split(" ", -1)
      if (words.length >= 5)
        words.sliding(5).map(_.mkString(" ")).toSet
      else Set.empty
    }
    val bench = docs.filter(_._1 % 97 == 0).flatMap(d => grams(d._2)).toSet
    val clean = near.filter { case (id, text, _) =>
      id % 97 != 0 && grams(text).intersect(bench).isEmpty
    }
    // stage 5: Madow token-budget pick on the salted-hash order
    val stride = Curation.TokenStride
    var cum = 0L
    val picked = clean
      .sortBy { case (id, _, _) => (md5hex(s"matsample:$id"), id) }
      .flatMap { case (id, text, _) =>
        val nt = tokens(text).length.toLong
        cum += nt
        if (cum / stride > (cum - nt) / stride) Some((id, nt)) else None
      }
    // stage 6: shard-local greedy packing
    val bins = picked.groupBy(_._1 / 1000).view.mapValues { ds =>
      var c = 0L
      ds.sortBy(_._1).map { case (_, nt) =>
        val bin = c / Materialize.PackBudget
        c += nt
        bin
      }.distinct.size
    }.values.sum
    def tok(s: Seq[(Long, String, Long)]): Long =
      s.map(d => tokens(d._2).length.toLong).sum
    assert(rows("1_gate") ==
      ((docs.length.toLong, gated.length.toLong, tok(gated))))
    assert(rows("2_exact_dedup") ==
      ((gated.length.toLong, exact.length.toLong, tok(exact))))
    assert(rows("3_near_dedup") ==
      ((exact.length.toLong, near.length.toLong, tok(near))))
    assert(rows("4_decontaminate") ==
      ((near.length.toLong, clean.length.toLong, tok(clean))))
    assert(rows("5_token_sample") ==
      ((clean.length.toLong, picked.length.toLong,
        picked.map(_._2).sum)))
    assert(rows("6_pack") ==
      ((picked.length.toLong, bins.toLong, picked.map(_._2).sum)))
    // attrition is monotone by construction — the flags nest
    assert(gated.length <= docs.length && exact.length <= gated.length &&
      near.length <= exact.length && clean.length <= near.length &&
      picked.length <= clean.length)
  }

  test("q390 inconsistent groups equal a sequential fingerprint replay " +
      "and both planted failure modes are found") {
    val rows = Multimodal.q390CrossModalAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the pair corpus: originals + re-captioned (%7) + stock-caption
    // (%11, byte-reversed "image")
    val pairs = docs.map { case (id, t) => (id, t, t) } ++
      docs.filter(_._1 % 7 == 0).map { case (id, t) =>
        (id + Multimodal.RecapOffset, t, s"photo number $id") } ++
      docs.filter(_._1 % 11 == 0).map { case (id, t) =>
        (id + Multimodal.StockOffset, t.reverse, t) }
    def sig(text: String): String = {
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      val s = Array.tabulate(64)(j =>
        if (n == 0) 0L else (bytes((j * (n - 1)) / 63) & 0xff).toLong)
      val tot = s.sum
      def half(off: Int): Long = (0 until 32).map(j =>
        if (64 * s(off + j) > tot) 1L << j else 0L).sum
      s"${half(0)}_${half(32)}"
    }
    val keyed = pairs.map { case (id, img, cap) =>
      (id, sig(img), md5hex(cap))
    }
    val expect = collection.mutable.Map.empty[(String, String),
      (Long, Long, Long)]
    keyed.groupBy(_._2).foreach { case (img, g) =>
      val caps = g.map(_._3).distinct
      if (g.size >= 2 && caps.size > 1)
        expect(("image_dup_caption_mismatch", img)) =
          (g.size.toLong, caps.size.toLong, g.map(_._1).min)
    }
    keyed.groupBy(_._3).foreach { case (cap, g) =>
      val imgs = g.map(_._2).distinct
      if (g.size >= 2 && imgs.size > 1)
        expect(("caption_dup_image_mismatch", cap)) =
          (g.size.toLong, imgs.size.toLong, g.map(_._1).min)
    }
    assert(rows == expect.toMap)
    // both planted failure modes must actually surface: every %7 doc
    // whose payload signature is unique among originals yields an
    // image-dup group; the %11 docs yield caption-dup groups whenever
    // the reversed payload lands on a different signature
    assert(rows.keys.exists(_._1 == "image_dup_caption_mismatch"),
      "no image-dup/caption-mismatch group found")
    assert(rows.keys.exists(_._1 == "caption_dup_image_mismatch"),
      "no caption-dup/image-mismatch group found")
  }

  test("q391 pairs equal a sequential frame-set replay and planted " +
      "re-encodes with enough frames are all found") {
    val rows = Multimodal.q391VideoFrameDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = docs ++ docs.filter(_._1 % 5 == 0).map { case (id, t) =>
      (id + Multimodal.ReencOffset, "z" * 16 + t.drop(16))
    }
    def frameSet(text: String): Set[String] =
      (0 until math.ceil(text.length / 16.0).toInt)
        .filter(_ % 4 == 0)
        .map(i => md5hex(text.slice(i * 16, i * 16 + 16)))
        .toSet
    val sets = corpus.map { case (id, t) => id -> frameSet(t) }
    val df = sets.flatMap(_._2.toSeq).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val kept = sets.map { case (id, fs) =>
      id -> fs.filter(df(_) <= Multimodal.FrameDfCap)
    }.filter(_._2.nonEmpty)
    val expect = (for {
      (i1, f1) <- kept; (i2, f2) <- kept if i1 < i2
      sh = (f1 & f2).size.toLong if sh > 0
      n1 = f1.size.toLong; n2 = f2.size.toLong
      if Multimodal.FrameOverlapDen * sh >=
        Multimodal.FrameOverlapNum * math.min(n1, n2)
    } yield (i1, i2) -> ((sh, n1, n2, sh * 1000000L / math.min(n1, n2),
      i2 == i1 + Multimodal.ReencOffset))).toMap
    assert(rows == expect)
    // every planted re-encode whose post-df-cap frame sets clear the
    // 80% floor must be flagged — and at least one must exist
    val found = rows.keys.count { case (a, b) =>
      b == a + Multimodal.ReencOffset
    }
    assert(found > 0, "no planted re-encode pair found at all")
  }
}
