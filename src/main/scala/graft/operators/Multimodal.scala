package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Typed metadata for an opaque media payload. */
case class MediaMeta(width: Long, height: Long, kind: String)

/** A multimodal record: opaque binary content + typed metadata. At 100 TB
  * this is the schema for image/audio/video shards (payload = encoded
  * bytes, meta = dimensions/codec). */
case class MediaItem(doc_id: Long, payload: Array[Byte], meta: MediaMeta)

/** Decoded per-item features produced by the batch decoder. */
case class MediaFeature(doc_id: Long, n_bytes: Int, feature: Array[Double])

/** [EXT] multimodal column plumbing (BASELINE.json mandate): binary
  * payload columns with typed metadata, and a partition-batched decode
  * stage — the Spark-side shape of an image/audio feature-extraction
  * pipeline. The container ships no media libraries (SURVEY.md scope
  * note), so the decode kernel is a clearly-marked deterministic stand-in
  * (first bytes scaled to [0,1]); the *plumbing* — binary schema, typed
  * Dataset, mapPartitions batching, feature array output — is real and
  * is what a decoder plugs into.
  */
object Multimodal {

  val FeatureDim = 4

  /** Documents as typed media items: payload = UTF-8 bytes. */
  def mediaItems(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(col("n_chars").as("width"), lit(1L).as("height"),
          lit("utf8-text").as("kind")).as("meta"))
      .as[MediaItem]
  }

  /** Media ingest from a DIRECTORY of raw files via the built-in
    * `binaryFile` source — the production ingest path when image/audio
    * assets land as individual files rather than pre-packed parquet
    * shards. One row per file (path, modificationTime, length,
    * content); `pathGlobFilter` prunes non-media files at LISTING time
    * (no bytes read for skipped files) and `recursiveFileLookup` walks
    * nested shard directories. doc_id is a stable hash of the file
    * path (content-independent, so re-ingesting a changed file keeps
    * its identity); `meta.kind` is the file extension. Feeds
    * [[decodeBatches]] unchanged — source and decode compose. */
  def mediaFromFiles(spark: SparkSession, dir: String,
      glob: String = "*.bin"): Dataset[MediaItem] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        xxhash64(col("path")).as("doc_id"),
        col("content").as("payload"),
        struct(col("length").as("width"), lit(1L).as("height"),
          regexp_extract(col("path"), "\\.([^.]+)$", 1).as("kind"))
          .as("meta"))
      .as[MediaItem]
  }

  /** Partition-batched decode: the mapPartitions boundary is where a real
    * decoder (libjpeg / ffmpeg / a Pandas UDF in PySpark) would consume a
    * whole Arrow batch. STAND-IN KERNEL: feature[i] = payload[i] / 255.0
    * (deterministic, byte-order-stable) — replace `decodeOne` to plug in
    * a real decoder without touching the distributed shape. */
  def decodeBatches(items: Dataset[MediaItem]): Dataset[MediaFeature] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.map { m =>
        MediaFeature(m.doc_id, m.payload.length, decodeOne(m.payload))
      }
    }
  }

  private def decodeOne(payload: Array[Byte]): Array[Double] =
    Array.tabulate(FeatureDim) { i =>
      if (i < payload.length) (payload(i) & 0xff) / 255.0 else 0.0
    }

  /** q43 — the decode pipeline end-to-end as a query. The stand-in kernel
    * is byte-arithmetic on ASCII text, so it IS oracle-expressible:
    * feature[i] = ascii(char i) / 255. */
  def q43MultimodalDecode(spark: SparkSession, dir: String): DataFrame =
    decodeBatches(mediaItems(spark, dir))
      .toDF()
      .select(col("doc_id"), col("n_bytes"),
        round(element_at(col("feature"), 1), 6).as("f0"),
        round(element_at(col("feature"), 2), 6).as("f1"),
        round(element_at(col("feature"), 3), 6).as("f2"),
        round(element_at(col("feature"), 4), 6).as("f3"))
      .orderBy("doc_id")

  /** q76 — frame sampling: the payload chunked into fixed-width frames,
    * every 4th frame kept (the video/audio frame-sample shape: decode
    * only sampled frames, never the whole asset). Frames here are
    * 16-char windows of the text payload so the DuckDB oracle can
    * recompute each frame's md5 — with a real codec only `transform`'s
    * lambda changes, not the explode/filter plumbing. */
  def q76FrameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // empty-text guard: Spark's sequence(0,-1) DESCENDS ([0,-1]) while
      // the oracle's generate_series(0,-1) is empty — zero-length
      // payloads must produce zero frames on both sides
      .select(col("doc_id"), posexplode(expr(
        """CASE WHEN length(text) = 0 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(0, CAST(ceil(length(text) / 16.0) AS INT) - 1),
          |               i -> substring(text, i * 16 + 1, 16))
          |END""".stripMargin))
        .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % 4 === 0)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** doc_id offset of the simulated re-encoded variant batch in q164. */
  private[graft] val VariantOffset = 10000000L

  /** Perceptual-hash banding parameters: 64-bit signature from an
    * 8×8-equivalent sample grid, 4×16-bit bands, hamming ≤ 6 verify. */
  private[graft] val PhashMaxHamming = 6

  /** 64-position sample grid over the payload — the "resize to 8×8"
    * step of dHash/pHash, done on raw bytes by the same mapPartitions
    * decode boundary as [[decodeBatches]] (a real image pipeline would
    * resize DECODED pixels here; the grid/threshold/banding downstream
    * is codec-independent). Position j samples byte (j·(n−1)) div 63 —
    * length-normalized, so equal-length variants sample aligned
    * offsets. */
  private def sampleGrid(items: Dataset[MediaItem]): DataFrame = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { m =>
      val n = m.payload.length
      val s = Array.tabulate(64) { j =>
        if (n == 0) 0L
        else (m.payload((j * (n - 1)) / 63) & 0xff).toLong
      }
      (m.doc_id, s)
    }).toDF("doc_id", "s")
  }

  /** q164 — perceptual-hash media near-dup (the dHash/pHash shape LAION
    * -scale image dedup runs): per asset a 64-bit signature — sample
    * grid thresholded by its own mean (bit_j = 64·s_j > Σs, exact
    * integer compare) — banded 4×16 bits for candidate generation,
    * candidates verified by exact hamming (xor + bit_count), ≤
    * [[PhashMaxHamming]] kept. The corpus is the document payloads
    * UNIONed with a simulated re-encoded batch (doc_id + offset, first
    * byte corrupted): the operator's real job is re-encoded-asset
    * detection, which exact content hashing (q31) by construction
    * cannot do — on this data 495/500 variants land within hamming 6
    * of their original with zero false pairs, and the 5 misses are the
    * honest behavior of mean-threshold bits under a mean shift (the
    * oracle replicates banding + verify EXACTLY, so the output is
    * deterministic, not recall-gated). Scale: q33's machinery — one
    * narrow signature pass, band-key equi-join, no pairwise anything. */
  /** 64-bit perceptual signature per media item (the q164 dHash/pHash
    * core: sample grid thresholded by its own mean, exact integer
    * compare) — factored so the near-dup pairing (q164) and the
    * cross-modal consistency audit (q390) share one definition. */
  private def sig64(items: Dataset[MediaItem]): DataFrame =
    sampleGrid(items)
      .select(col("doc_id"),
        expr("aggregate(s, 0L, (a, x) -> a + x)").as("tot"), col("s"))
      .select(col("doc_id"),
        expr("""aggregate(transform(slice(s, 1, 32),
               |  (x, j) -> IF(64 * x > tot, shiftleft(1L, j), 0L)),
               |  0L, (a, x) -> a + x)""".stripMargin).as("sig_lo"),
        expr("""aggregate(transform(slice(s, 33, 32),
               |  (x, j) -> IF(64 * x > tot, shiftleft(1L, j), 0L)),
               |  0L, (a, x) -> a + x)""".stripMargin).as("sig_hi"))

  def q164PhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val originals = mediaItems(spark, dir)
    val variants = originals.map { m =>
      val p = m.payload.clone()
      if (p.nonEmpty) p(0) = 'z'.toByte
      MediaItem(m.doc_id + VariantOffset, p, m.meta)
    }
    // checkpointed: both band sides and both signature sides read it
    val sigs = sig64(originals.unionAll(variants)).localCheckpoint()
    val bands = sigs.select(col("doc_id"), posexplode(array(
      col("sig_lo").bitwiseAND(65535),
      shiftright(col("sig_lo"), 16).bitwiseAND(65535),
      col("sig_hi").bitwiseAND(65535),
      shiftright(col("sig_hi"), 16).bitwiseAND(65535)))
      .as(Seq("k", "v")))
    val cand = bands.select(col("doc_id").as("id1"), col("k"), col("v"))
      .join(bands.select(col("doc_id").as("id2"), col("k"), col("v")),
        Seq("k", "v"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    cand
      .join(sigs.select(col("doc_id").as("id1"),
        col("sig_lo").as("lo1"), col("sig_hi").as("hi1")), Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"),
        col("sig_lo").as("lo2"), col("sig_hi").as("hi2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("lo1").bitwiseXOR(col("lo2"))) +
          bit_count(col("hi1").bitwiseXOR(col("hi2")))).as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)
      .withColumn("is_variant_pair", col("id2") === col("id1") + VariantOffset)
      .orderBy("id1", "id2")
  }

  /** q390 pair-corpus id offsets (disjoint from q164's
    * [[VariantOffset]] family for clarity). */
  private[graft] val RecapOffset = 20000000L
  private[graft] val StockOffset = 30000000L

  /** q390 — CROSS-MODAL CONSISTENCY AUDIT (VERDICT r13 #6, the
    * caption↔image join): every (image, caption) pair keyed by BOTH
    * modal fingerprints — image = the exact 64-bit perceptual
    * signature [[sig64]] (q164's dHash core: re-encode-stable), caption
    * = md5 of the text — and the two failure-mode group reports a
    * multimodal training set audits before captions are trusted as
    * labels:
    *
    *   image_dup_caption_mismatch — one perceptual image, ≥2 distinct
    *     captions (alt-text spam / caption churn on re-posts);
    *   caption_dup_image_mismatch — one caption, ≥2 perceptually
    *     distinct images (stock boilerplate captions).
    *
    * The synthetic pair corpus plants both modes deterministically:
    * originals (caption = its own text), a RE-CAPTIONED copy of every
    * 7th document (same payload, caption "photo number <id>"), and a
    * STOCK-CAPTION copy of every 11th (byte-reversed payload — a
    * different "image" — same caption). Scale: no pairwise step at
    * all — both reports are groupBys on a content key (the signature /
    * the caption hash), so the audit is two shuffles at any corpus
    * size; grouping on the EXACT signature is the strict form, and
    * relaxing to banded near-match would reuse q164's band join
    * unchanged. */
  def q390CrossModalAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val orig = docs.select(col("doc_id").as("pair_id"),
      col("text").as("img_text"), col("text").as("caption"))
    val recap = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + RecapOffset).as("pair_id"),
        col("text").as("img_text"),
        concat(lit("photo number "), col("doc_id").cast("string"))
          .as("caption"))
    val stock = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + StockOffset).as("pair_id"),
        reverse(col("text")).as("img_text"), col("text").as("caption"))
    val pairs = orig.unionAll(recap).unionAll(stock)
    val items = pairs
      .select(col("pair_id").as("doc_id"),
        encode(col("img_text"), "UTF-8").as("payload"),
        struct(length(col("img_text")).cast("long").as("width"),
          lit(1L).as("height"), lit("utf8-text").as("kind")).as("meta"))
      .as[MediaItem]
    val keyed = pairs
      .select(col("pair_id"), md5(col("caption")).as("cap"))
      .join(sig64(items).withColumnRenamed("doc_id", "pair_id"),
        Seq("pair_id"))
      .withColumn("img",
        concat(col("sig_lo").cast("string"), lit("_"),
          col("sig_hi").cast("string")))
    val imgGroups = keyed.groupBy("img")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("cap")).as("n_other_keys"),
        min(col("pair_id")).as("first_pair"))
      .filter(col("n_pairs") >= 2 && col("n_other_keys") > 1)
      .select(lit("image_dup_caption_mismatch").as("modality"),
        col("img").as("group_key"), col("n_pairs"),
        col("n_other_keys"), col("first_pair"))
    val capGroups = keyed.groupBy("cap")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("img")).as("n_other_keys"),
        min(col("pair_id")).as("first_pair"))
      .filter(col("n_pairs") >= 2 && col("n_other_keys") > 1)
      .select(lit("caption_dup_image_mismatch").as("modality"),
        col("cap").as("group_key"), col("n_pairs"),
        col("n_other_keys"), col("first_pair"))
    imgGroups.unionAll(capGroups)
      .orderBy("modality", "group_key")
  }

  /** q391 corpus/threshold constants. */
  private[graft] val ReencOffset = 40000000L
  /** frames more ubiquitous than this (distinct videos) are dropped
    * before pairing — the boilerplate-frame guard that keeps every
    * bucket bounded (intros/outros/test cards shared by thousands of
    * videos would otherwise quadratically dominate candidates while
    * carrying no identity signal; the same df-cap move as q33's band
    * caps and PPJoin's prefix filter). */
  private[graft] val FrameDfCap = 50L
  /** containment floor: 5·shared ≥ 4·min(n1, n2), i.e. ≥ 80%, as an
    * exact integer cross-product (never a division). */
  private[graft] val FrameOverlapNum = 4L
  private[graft] val FrameOverlapDen = 5L

  /** q391 — VIDEO FRAME-SET NEAR-DUP (re-encode/segment detection):
    * each payload is treated as a video, sampled to every 4th
    * fixed-width frame (q76's sampler), each sampled frame reduced to
    * a fingerprint, and two videos are flagged when the DISTINCT
    * fingerprint sets of one contain ≥ 80% of the smaller — the
    * frame-level containment check video dedup runs where whole-asset
    * hashing (q31) and whole-asset perceptual hashing (q164) both
    * fail: a re-encode that corrupts ONE frame, or a clip that shares
    * most frames, still pairs. The corpus plants exactly that: a
    * re-encoded copy of every 5th document with its FIRST frame
    * overwritten — copies with ≥ 5 sampled frames clear the 80% floor
    * (4/5 at 5 frames), shorter ones honestly miss (the corrupt frame
    * itself collides across every copy, so the df cap drops it — the
    * guard doing real work), and organically frame-sharing document
    * pairs surface alongside the planted ones. The frame fingerprint
    * is the exact
    * frame md5 (the [[decodeBatches]] stand-in convention: a real
    * pipeline swaps in a per-frame pHash; the set-containment plumbing
    * downstream is codec-independent).
    *
    * Scale: pairs meet ONLY on a shared frame fingerprint (content-key
    * blocking, q32's class) AFTER the [[FrameDfCap]] document-frequency
    * guard bounds every bucket; sizes and overlaps are exact integer
    * folds; the threshold is a cross-product. No global anything. */
  /** The q391/q392 shared frame lineage: re-encode-planted corpus →
    * q76-sampled 16-char frames → exact-md5 fingerprints (SET semantics
    * per video) → [[FrameDfCap]] document-frequency guard. Returns the
    * KEPT (doc_id, f) fingerprint rows both consumers pair on. */
  private def keptFrames(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs
      .select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + ReencOffset).as("doc_id"),
          expr("concat(repeat('z', 16), substring(text, 17))")
            .as("text")))
    // q76's sampler: 16-char frames, every 4th kept; exact-md5
    // fingerprint per sampled frame, SET semantics per video
    val frames = corpus
      .select(col("doc_id"), posexplode(expr(
        """CASE WHEN length(text) = 0 THEN CAST(array() AS ARRAY<STRING>)
          |ELSE transform(sequence(0, CAST(ceil(length(text) / 16.0) AS INT) - 1),
          |               i -> substring(text, i * 16 + 1, 16))
          |END""".stripMargin)).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % 4 === 0)
      .select(col("doc_id"), md5(col("frame")).as("f"))
      .distinct()
    val rare = frames.groupBy("f")
      .agg(countDistinct(col("doc_id")).as("fdf"))
      .filter(col("fdf") <= FrameDfCap)
      .select("f")
    frames.join(rare, Seq("f"))
  }

  def q391VideoFrameDedup(spark: SparkSession, dir: String): DataFrame = {
    val kept = keptFrames(spark, dir)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val shared = kept.select(col("doc_id").as("id1"), col("f"))
      .join(kept.select(col("doc_id").as("id2"), col("f")), Seq("f"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("id1"), col("nf").as("n1")),
        Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("nf").as("n2")),
        Seq("id2"))
      .filter(lit(FrameOverlapDen) * col("n_shared") >=
        lit(FrameOverlapNum) * least(col("n1"), col("n2")))
      .select(col("id1"), col("id2"), col("n_shared"), col("n1"),
        col("n2"),
        expr("n_shared * 1000000 div least(n1, n2)").as("overlap_ppm"),
        (col("id2") === col("id1") + ReencOffset).as("is_reenc_pair"))
      .orderBy("id1", "id2")
  }

  /** q392 — VIDEO DEDUP RECALL ACCOUNTING (VERDICT r14 #6): the q391
    * detector's recall over the PLANTED re-encode pairs, made
    * machine-visible. q391's corpus plants a corrupted re-encode of
    * every 5th document; some of those pairs are honestly undetectable
    * — the corrupt first frame is shared by every copy, so the
    * [[FrameDfCap]] guard drops it BY DESIGN, and a video whose only
    * sampled frame was the corrupted one has nothing left to pair on.
    * This query audits every planted pair against the same kept-frame
    * lineage and reports, per outcome class, how many pairs landed
    * there:
    *
    *   - `detected`            — the pair clears q391's 80% floor
    *     (membership here is exactly q391's `is_reenc_pair` predicate,
    *     pinned by MultimodalSpec)
    *   - `no_surviving_frames` — the copy's kept fingerprint set is
    *     EMPTY after sampling + the df cap (a ≤ 4-frame video's only
    *     sampled frame is the corrupted, df-capped one): undetectable
    *     at any threshold, the honest-miss class the r14 verdict asked
    *     to surface
    *   - `below_floor`         — frames survived but the overlap missed
    *     the 4/5 containment floor (empty at every measured SF: a
    *     copy's surviving frames are by construction a subset of the
    *     original's, so any non-empty survivor set is 100% contained —
    *     the class exists so a future threshold/corpus change that
    *     opens the gap is VISIBLE, not silently folded into a count)
    *
    * Scale: strictly cheaper than q391 — the pair probe joins each
    * original's kept frames against ONLY its own copy's (the join key
    * carries the pair identity: copy doc_id − [[ReencOffset]]), so
    * there is no generic candidate generation at all; everything else
    * is the shared lineage plus per-pair counts. */
  def q392VideoDedupRecall(spark: SparkSession, dir: String): DataFrame = {
    val kept = keptFrames(spark, dir)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val planted = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("orig_id"))
    // per-pair shared-fingerprint count: copy rows are re-keyed to the
    // original they were planted from, so the join IS the pair
    val shared = kept.select(col("doc_id").as("orig_id"), col("f"))
      .join(kept.select((col("doc_id") - ReencOffset).as("orig_id"),
        col("f")), Seq("orig_id", "f"))
      .groupBy("orig_id").agg(count(lit(1)).as("n_shared"))
    planted
      .join(sizes.select(col("doc_id").as("orig_id"),
        col("nf").as("n1")), Seq("orig_id"), "left")
      .join(sizes.select((col("doc_id") - ReencOffset).as("orig_id"),
        col("nf").as("n2")), Seq("orig_id"), "left")
      .join(shared, Seq("orig_id"), "left")
      .select(col("orig_id"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("status",
        when(col("n_shared") > 0 &&
          lit(FrameOverlapDen) * col("n_shared") >=
            lit(FrameOverlapNum) * least(col("n1"), col("n2")),
          lit("detected"))
          .when(col("n2") === 0, lit("no_surviving_frames"))
          .otherwise(lit("below_floor")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("n2")).as("min_copy_frames"),
        max(col("n2")).as("max_copy_frames"))
      .orderBy("status")
  }

  /** The frame index q391 and q392 share as oracle CTEs: the
    * corpus with its planted re-encodes, each document's sampled frame
    * hashes `frames`, the rare ones it keeps `kept` (doc_id, f) and its
    * kept-frame count `sizes` (doc_id, nf). */
  private val frameCtes: String =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $ReencOffset,
      |         repeat('z', 16) || substr(text, 17)
      |  FROM documents WHERE doc_id % 5 = 0),
      |frames AS (
      |  SELECT DISTINCT doc_id,
      |         md5(substr(text, CAST(i AS INT) * 16 + 1, 16)) AS f
      |  FROM (SELECT doc_id, text,
      |               unnest(generate_series(0,
      |                 CAST(ceil(length(text) / 16.0) AS BIGINT) - 1))
      |                 AS i
      |        FROM corpus)
      |  WHERE i % 4 = 0),
      |rare AS (
      |  SELECT f FROM (SELECT f, count(DISTINCT doc_id) AS fdf
      |                 FROM frames GROUP BY f)
      |  WHERE fdf <= $FrameDfCap),
      |kept AS (SELECT doc_id, f FROM frames JOIN rare USING (f)),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
      |          FROM kept GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q43_multimodal_decode", q43MultimodalDecode _,
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       round(ascii(substr(text, 1, 1)) / 255.0, 6) AS f0,
        |       round(ascii(substr(text, 2, 1)) / 255.0, 6) AS f1,
        |       round(ascii(substr(text, 3, 1)) / 255.0, 6) AS f2,
        |       round(ascii(substr(text, 4, 1)) / 255.0, 6) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q76_frame_sample", q76FrameSample _,
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |       CAST(length(substr(text, i * 16 + 1, 16)) AS INT) AS frame_len,
        |       md5(substr(text, i * 16 + 1, 16)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |             unnest(generate_series(0,
        |               CAST(ceil(length(text) / 16.0) AS BIGINT) - 1)) AS i
        |      FROM documents)
        |WHERE i % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin),
    QueryDef("q164_phash_dedup", q164PhashDedup _,
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $VariantOffset, 'z' || substr(text, 2)
         |  FROM documents),
         |base AS (SELECT doc_id, text, length(text) AS n FROM corpus),
         |samp AS (
         |  SELECT doc_id,
         |         list_transform(range(0, 64),
         |           j -> ascii(substr(text, CAST((j*(n-1))//63 AS INT)+1, 1)))
         |           AS s
         |  FROM base),
         |sig AS (
         |  SELECT doc_id,
         |         CAST(list_sum(list_transform(range(0, 32),
         |           j -> CASE WHEN 64*s[j+1] > CAST(list_sum(s) AS BIGINT)
         |                THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END))
         |           AS BIGINT) AS sig_lo,
         |         CAST(list_sum(list_transform(range(0, 32),
         |           j -> CASE WHEN 64*s[j+33] > CAST(list_sum(s) AS BIGINT)
         |                THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END))
         |           AS BIGINT) AS sig_hi
         |  FROM samp),
         |bands AS (
         |  SELECT doc_id, k,
         |         CASE k WHEN 0 THEN sig_lo & 65535
         |                WHEN 1 THEN (sig_lo >> 16) & 65535
         |                WHEN 2 THEN sig_hi & 65535
         |                ELSE (sig_hi >> 16) & 65535 END AS v
         |  FROM sig, (SELECT unnest(range(0, 4)) AS k)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id)
         |SELECT id1, id2,
         |       CAST(bit_count(xor(s1.sig_lo, s2.sig_lo))
         |            + bit_count(xor(s1.sig_hi, s2.sig_hi)) AS INTEGER)
         |         AS hamming,
         |       id2 = id1 + $VariantOffset AS is_variant_pair
         |FROM cand
         |JOIN sig s1 ON s1.doc_id = id1
         |JOIN sig s2 ON s2.doc_id = id2
         |WHERE bit_count(xor(s1.sig_lo, s2.sig_lo))
         |      + bit_count(xor(s1.sig_hi, s2.sig_hi)) <= $PhashMaxHamming
         |ORDER BY id1, id2""".stripMargin),
    QueryDef("q390_cross_modal_audit", q390CrossModalAudit _,
      s"""WITH corpus AS (
         |  SELECT doc_id AS pair_id, text AS img_text, text AS caption
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id + $RecapOffset, text,
         |         'photo number ' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + $StockOffset, reverse(text), text
         |  FROM documents WHERE doc_id % 11 = 0),
         |base AS (SELECT pair_id, img_text, caption,
         |                length(img_text) AS n
         |         FROM corpus),
         |samp AS (
         |  SELECT pair_id, caption,
         |         list_transform(range(0, 64),
         |           j -> ascii(substr(img_text,
         |                  CAST((j*(n-1))//63 AS INT)+1, 1))) AS s
         |  FROM base),
         |sig AS (
         |  SELECT pair_id, caption,
         |         CAST(list_sum(list_transform(range(0, 32),
         |           j -> CASE WHEN 64*s[j+1] > CAST(list_sum(s) AS BIGINT)
         |                THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END))
         |           AS BIGINT) AS sig_lo,
         |         CAST(list_sum(list_transform(range(0, 32),
         |           j -> CASE WHEN 64*s[j+33] > CAST(list_sum(s) AS BIGINT)
         |                THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END))
         |           AS BIGINT) AS sig_hi
         |  FROM samp),
         |keyed AS (
         |  SELECT pair_id, md5(caption) AS cap,
         |         CAST(sig_lo AS VARCHAR) || '_'
         |           || CAST(sig_hi AS VARCHAR) AS img
         |  FROM sig)
         |SELECT modality, group_key, n_pairs, n_other_keys, first_pair
         |FROM (
         |  SELECT 'image_dup_caption_mismatch' AS modality,
         |         img AS group_key,
         |         CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(count(DISTINCT cap) AS BIGINT) AS n_other_keys,
         |         CAST(min(pair_id) AS BIGINT) AS first_pair
         |  FROM keyed GROUP BY img
         |  HAVING count(*) >= 2 AND count(DISTINCT cap) > 1
         |  UNION ALL
         |  SELECT 'caption_dup_image_mismatch', cap,
         |         CAST(count(*) AS BIGINT),
         |         CAST(count(DISTINCT img) AS BIGINT),
         |         CAST(min(pair_id) AS BIGINT)
         |  FROM keyed GROUP BY cap
         |  HAVING count(*) >= 2 AND count(DISTINCT img) > 1)
         |ORDER BY modality, group_key""".stripMargin),
    QueryDef("q391_video_frame_dedup", q391VideoFrameDedup _,
      s"""WITH $frameCtes,
         |shared AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b
         |    ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, n_shared, s1.nf AS n1, s2.nf AS n2,
         |       n_shared * 1000000 // least(s1.nf, s2.nf)
         |         AS overlap_ppm,
         |       id2 = id1 + $ReencOffset AS is_reenc_pair
         |FROM shared JOIN sizes s1 ON s1.doc_id = id1
         |JOIN sizes s2 ON s2.doc_id = id2
         |WHERE $FrameOverlapDen * n_shared
         |      >= $FrameOverlapNum * least(s1.nf, s2.nf)
         |ORDER BY id1, id2""".stripMargin),
    QueryDef("q392_video_dedup_recall", q392VideoDedupRecall _,
      s"""WITH $frameCtes,
         |planted AS (SELECT doc_id AS orig_id FROM documents
         |            WHERE doc_id % 5 = 0),
         |pshared AS (
         |  SELECT a.doc_id AS orig_id, CAST(count(*) AS BIGINT)
         |           AS n_shared
         |  FROM kept a JOIN kept b
         |    ON b.doc_id = a.doc_id + $ReencOffset AND a.f = b.f
         |  GROUP BY 1),
         |audit AS (
         |  SELECT p.orig_id,
         |         coalesce(s1.nf, 0) AS n1, coalesce(s2.nf, 0) AS n2,
         |         coalesce(ps.n_shared, 0) AS n_shared
         |  FROM planted p
         |  LEFT JOIN sizes s1 ON s1.doc_id = p.orig_id
         |  LEFT JOIN sizes s2 ON s2.doc_id = p.orig_id + $ReencOffset
         |  LEFT JOIN pshared ps ON ps.orig_id = p.orig_id),
         |cls AS (
         |  SELECT CASE
         |    WHEN n_shared > 0 AND $FrameOverlapDen * n_shared
         |         >= $FrameOverlapNum * least(n1, n2) THEN 'detected'
         |    WHEN n2 = 0 THEN 'no_surviving_frames'
         |    ELSE 'below_floor' END AS status, n2
         |  FROM audit)
         |SELECT status, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(min(n2) AS BIGINT) AS min_copy_frames,
         |       CAST(max(n2) AS BIGINT) AS max_copy_frames
         |FROM cls GROUP BY status ORDER BY status""".stripMargin))
}
