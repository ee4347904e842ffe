package graft

import graft.operators.Multimodal

/** Typed multimodal pipeline: binary payloads survive the Dataset
  * round-trip and the partition-batched decoder produces the stand-in
  * features byte-exactly. */
class MultimodalSpec extends SparkTestBase {

  test("mediaItems carries binary payload + typed metadata") {
    val items = Multimodal.mediaItems(spark, sf).take(5)
    items.foreach { m =>
      assert(m.payload.nonEmpty)
      assert(m.meta.kind == "utf8-text")
      assert(m.meta.width > 0 && m.meta.height == 1L)
    }
  }

  test("binaryFile ingest: a directory of raw media files becomes typed " +
      "MediaItems (glob-pruned, nested dirs walked) and decodes") {
    import java.nio.file.{Files, Paths}
    withTempDir("graft_media") { path =>
      val root = path.toString
      Files.createDirectories(Paths.get(s"$root/shard0"))
      val blobs = Map(
        s"$root/a.bin" -> Array[Byte](0, 64, -128, -1, 7),
        s"$root/shard0/b.bin" -> Array[Byte](1, 2, 3),
        s"$root/c.txt" -> "not media".getBytes)
      blobs.foreach { case (p, b) => Files.write(Paths.get(p), b) }
      val items = Multimodal.mediaFromFiles(spark, root, "*.bin").collect()
      // the .txt file is pruned at LISTING time by the glob
      assert(items.length == 2)
      assert(items.forall(_.meta.kind == "bin"))
      val byLen = items.map(m => m.payload.length -> m).toMap
      assert(byLen(5).payload.toSeq == blobs(s"$root/a.bin").toSeq)
      assert(byLen(3).meta.width == 3L) // binaryFile's length column
      // ids are distinct and stable (path-hash)
      assert(items.map(_.doc_id).distinct.length == 2)
      // composes with the decode stage unchanged
      val feats = Multimodal.decodeBatches(
        Multimodal.mediaFromFiles(spark, root, "*.bin")).collect()
      val f5 = feats.find(_.n_bytes == 5).get
      assert(f5.feature.toSeq ==
        Seq(0.0, 64 / 255.0, 128 / 255.0, 255 / 255.0))
    }
  }

  test("decodeBatches emits first-bytes features deterministically") {
    val feats = Multimodal.decodeBatches(Multimodal.mediaItems(spark, sf))
      .collect().sortBy(_.doc_id).take(3)
    val raw = Multimodal.mediaItems(spark, sf)
      .collect().sortBy(_.doc_id).take(3)
    feats.zip(raw).foreach { case (f, m) =>
      assert(f.n_bytes == m.payload.length)
      assert(f.feature.length == Multimodal.FeatureDim)
      f.feature.zipWithIndex.foreach { case (v, i) =>
        assert(v == (m.payload(i) & 0xff) / 255.0)
      }
    }
  }

  test("q164 phash matches an independent signature recompute and finds " +
      "nearly every re-encoded variant with zero false pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // corpus is single-byte text, so byte == char sampling is exact
    assert(docs.forall(_._2.forall(_ < 128)), "corpus must be ASCII")
    def sig(payload: Array[Byte]): (Long, Long) = {
      val n = payload.length
      val s = Array.tabulate(64)(j =>
        if (n == 0) 0L else (payload((j * (n - 1)) / 63) & 0xff).toLong)
      val tot = s.sum
      def pack(off: Int): Long = (0 until 32).map { j =>
        if (64 * s(off + j) > tot) 1L << j else 0L
      }.sum
      (pack(0), pack(32))
    }
    val sigs = docs.flatMap { case (id, t) =>
      val orig = t.getBytes("UTF-8")
      val variant = orig.clone(); variant(0) = 'z'.toByte
      Seq(id -> sig(orig), (id + 10000000L) -> sig(variant))
    }.toMap
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val got = Multimodal.q164PhashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    // every reported pair's hamming matches the independent signatures
    got.foreach { case (id1, id2, h, isVar) =>
      assert(h == hamming(sigs(id1), sigs(id2)), s"pair ($id1,$id2)")
      assert(isVar == (id2 == id1 + 10000000L))
    }
    // zero false pairs on this corpus, near-total variant recall; the
    // few misses are mean-shift bit flips — the honest dHash behavior
    assert(got.forall(_._4), "unexpected non-variant pair")
    assert(got.length >= (docs.length * 95) / 100,
      s"variant recall ${got.length}/${docs.length}")
  }
}
