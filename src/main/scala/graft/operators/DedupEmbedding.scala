package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] EMBEDDING-space deduplication (split from [[Dedup]], VERDICT
  * r04 #6): exact vector dedup (q119) and LSH-banded cosine near-dup
  * (q35), plus the shared vector-math column expressions every
  * similarity operator builds on (`normExpr` / `dotExpr`, both backed
  * by the native codegen `graft_dot` kernel).
  *
  * Scale design is [[Dedup]]'s: candidate generation is always a
  * shuffle on a content key (here: quantized-coordinate hash or sign
  * band), never a pairwise scan; hot buckets are capped proportionally.
  */
object DedupEmbedding {


  /** q119 — EXACT vector dedup: the flat hash-groupBy pass docs/SCALE.md
    * prescribes BEFORE any banded/blocked embedding near-dup (q35/q107):
    * mass-duplicate embedding clusters are collapsed by an exact
    * content key so LSH bucket joins never pay bucket^2 on them (the
    * measured 16x win in the 10x study). The key is the
    * micro-quantized coordinate string (floor(x*1000), the same
    * quantization q35's banding uses), so "identical" matches the
    * near-dup pipeline's own notion of the vector, and the DuckDB
    * oracle derives the identical key. Same shape as q31: one shuffle
    * on the content key, no pair join. */
  def q119VectorExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), md5(expr(
        """concat_ws(',', transform(embedding,
          |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))"""
          .stripMargin)).as("vkey"))
    val groups = vecs.groupBy("vkey")
      .agg(min(col("vec_id")).as("canonical_id"),
        count(lit(1)).as("group_size"))
    vecs.join(groups, Seq("vkey"))
      .select(col("vec_id"), col("canonical_id"), col("group_size"),
        (col("vec_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy("vec_id")
  }

  /** Per-vector L2 norm in double precision. Uses the native codegen
    * [[graft.plans.VectorDot]] kernel (left-to-right fold, bit-identical
    * to the higher-order-function formulation it replaced but inside
    * WholeStageCodegen instead of interpreted CodegenFallback). */
  private[operators] val normExpr: Column =
    sqrt(expr("graft_dot(embedding, embedding)"))

  /** Pairwise dot product of two embedding columns `ea`/`eb` in double. */
  private[operators] val dotExpr: Column = expr("graft_dot(ea, eb)")

  // q35 banding geometry: 12 bands x 8 bits = 96 sign-projection planes.
  // 8-bit bands (256 buckets each) split random pairs (p~0.5 per bit ->
  // ~1/256 band collision) while multi-probe single-bit flips recover
  // near-threshold pairs; at 100 TB the band WIDTH grows with the corpus
  // (buckets ~ O(N / target-bucket-size)) and the band count stays the
  // recall knob — same trade documented for q37.
  private[graft] val EmbBandBits = 8
  private[graft] val EmbNBands = 12
  private[graft] val EmbNPlanes = EmbBandBits * EmbNBands
  private val EmbCosineFloor = 0.4

  /** Hot-bucket cap, part of q35's REGISTERED (oracle-replicated)
    * semantics: band buckets holding more than the cap are excluded
    * from candidate generation, bounding the bucket-join's worst case
    * at cap^2/2 * buckets — the standard LSH hot-bucket guard. The cap
    * is PROPORTIONAL: [[EmbCapSkewFactor]] x the average band occupancy
    * (n / 2^EmbBandBits buckets), floored at [[EmbCapFloor]] — a cap
    * that stayed constant while average occupancy grows linearly with N
    * would silently exclude EVERY vector once occupancy passed it
    * (code-review r04), whereas 8x-average only ever trims genuine
    * outlier buckets (mass-duplicate clusters, which the documented
    * production order — q31 exact dedup FIRST — removes anyway).
    * Non-binding at the tested SFs: max observed bucket 11 at sf0.001,
    * 38 at sf0.1, both under the floor of 64. Both engines derive the
    * cap from the same corpus count, so the candidate sets stay
    * hash-identical. */
  private[graft] val EmbCapFloor = 64L
  private[graft] val EmbCapSkewFactor = 8L

  /** The divisor turning corpus size into the cap:
    * n / (2^EmbBandBits / EmbCapSkewFactor), i.e. 8x average occupancy
    * for 8-bit bands. */
  private[graft] val EmbCapDiv = (1L << EmbBandBits) / EmbCapSkewFactor

  private[graft] def embHotBucketCap(n: Long): Long =
    math.max(EmbCapFloor, (n + EmbCapDiv - 1) / EmbCapDiv)

  /** ENGINE-PORTABLE integer hyperplanes: component (p, d) is
    * md5("p_d") mod 2001 - 1000, derivable identically in DuckDB SQL —
    * so the oracle verifies the exact candidate set, not just row
    * counts (same portability trick as the MinHash permutations).
    * Stored as integer-valued doubles: with |c| <= 1000 and quantized
    * coordinates |floor(x*1000)| well under 2^20, every product and the
    * 64-term sum stay far below 2^53, so the double arithmetic is EXACT
    * integer arithmetic and the sign bit is bit-stable across engines —
    * a Gaussian-plane float dot would not be (sum order near 0 flips
    * bits between engines). */
  private[graft] def portablePlanes(dim: Int): Seq[Seq[Double]] =
    (0 until EmbNPlanes).map { p =>
      (0 until dim).map { d =>
        (Hashing.md5Hash60Value(s"${p}_${d}") % 2001 - 1000).toDouble
      }
    }

  /** Per-vector LSH band table (vec_id, k, v): quantize to
    * floor(x*1000), take 96 sign bits against [[portablePlanes]] (exact
    * integer dots via the codegen `graft_dot`), pack 8-bit band values
    * MSB-first. One narrow shuffle-free projection of the embeddings
    * scan; cached per (session, dir) because both join sides read it. */
  private[operators] def embeddingBands(spark: SparkSession, dir: String): DataFrame = {
    val dim = Similarity.embeddingDim(spark, dir)
    graft.sources.DfCache.df(spark, s"emb_bands|$dir")(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("xq", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0D) AS DOUBLE))"))
        .withColumn("planes", typedLit(portablePlanes(dim)))
        // one codegen'd nested loop for all 96 sign bits (the lambda
        // form pays 96 interpreted HOF dispatches per row). A row whose
        // dimension differs from the probed corpus dimension raises
        // instead of silently truncating the projection — the oracle
        // dots over every observed dimension, so a truncated Spark-side
        // signature would diverge (same guard as q37's withSignature).
        .withColumn("bits", expr(
          s"""CASE WHEN size(embedding) != $dim THEN
             |  CAST(raise_error(concat('graft q35: embedding dim ',
             |                          size(embedding), ' != $dim'))
             |       AS ARRAY<BIGINT>)
             |ELSE graft_sign_bits(planes, xq) END""".stripMargin))
        .select(col("vec_id"), explode(expr(
          s"""transform(sequence(0, ${EmbNBands - 1}), k -> named_struct(
             |  'k', k,
             |  'v', aggregate(sequence(0, ${EmbBandBits - 1}), 0L,
             |         (acc, j) -> acc * 2L +
             |           element_at(bits, k * $EmbBandBits + j + 1))))"""
            .stripMargin)).as("band"))
        .select(col("vec_id"), col("band.k").as("k"), col("band.v").as("v")))
  }

  /** q35 — embedding cosine near-dup, LSH-banded: candidates are pairs
    * sharing a band within hamming distance 1 (probe side emits each
    * band value plus its 8 single-bit flips — multi-probe, like q37's
    * query side), then ONLY candidates are exact-scored with the codegen
    * `graft_dot` kernel and thresholded. No cross product anywhere: the
    * candidate step is an equi-join on (band, value) — a shuffle on a
    * content key, the same shape as q32/q34, so it survives a 100x
    * corpus, with [[embHotBucketCap]] bounding the worst case on
    * skewed/duplicate-heavy buckets. The brute-force kernel this
    * replaced lives on as the
    * test-only recall oracle ([[bruteEmbeddingPairs]]); the DuckDB
    * oracle reproduces the banding bit-for-bit (portable integer
    * planes), so the registered result is still hash-verified end to
    * end. */
  def q35DedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val raw = embeddingBands(spark, dir)
    // hot-bucket guard (see embHotBucketCap): the bucket-size table is
    // tiny (<= band space), so the exclusion join broadcasts. The count
    // is cached and shared with the IVF sizing probe.
    val nVecs = AnnIndex.embCount(spark, dir)
    val smallBuckets = raw.groupBy("k", "v")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= embHotBucketCap(nVecs))
      .select("k", "v")
    val bands = raw.join(broadcast(smallBuckets), Seq("k", "v"))
    val a = bands.select(col("vec_id").as("id1"), col("k"), explode(expr(
      s"""concat(array(v), transform(sequence(0, ${EmbBandBits - 1}),
         |                           j -> v ^ shiftleft(1L, j)))"""
        .stripMargin)).as("v"))
    val b = bands.select(col("vec_id").as("id2"), col("k"), col("v"))
    val candidates = a.join(b, Seq("k", "v"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normExpr.as("nrm"))
    val s1 = e.select(col("vec_id").as("id1"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val s2 = e.select(col("vec_id").as("id2"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    candidates.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .withColumn("cosine", round(dotExpr / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= EmbCosineFloor)
      .select("id1", "id2", "cosine")
      .orderBy("id1", "id2")
  }

  /** TEST-ONLY brute-force near-dup kernel (the full pair scan q35 used
    * to register): exact ground truth the spec measures q35's recall
    * against. Never registered — at 100x scale the cross product is the
    * textbook scale-killer (VERDICT.md r03). */
  private[graft] def bruteEmbeddingPairs(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), normExpr.as("nrm"))
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", round(dotExpr / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= EmbCosineFloor)
      .select("id1", "id2", "cosine")
      .orderBy("id1", "id2")
  }


  val defs: Seq[QueryDef] = Seq(
    QueryDef("q119_vector_exact_dedup", q119VectorExactDedup _,
      """WITH vecs AS (
        |  SELECT vec_id,
        |         md5(array_to_string(
        |           [CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
        |            FOR x IN embedding], ',')) AS vkey
        |  FROM embeddings),
        |groups AS (
        |  SELECT vkey, min(vec_id) AS canonical_id, count(*) AS group_size
        |  FROM vecs GROUP BY 1)
        |SELECT vec_id, canonical_id, group_size,
        |       vec_id <> canonical_id AS is_duplicate
        |FROM vecs JOIN groups USING (vkey)
        |ORDER BY vec_id""".stripMargin),
    // replicates the banding EXACTLY: md5-derived integer planes,
    // floor(x*1000) quantization, sign bits, 8-bit bands MSB-first,
    // multi-probe single-bit flips — all integer arithmetic, so both
    // engines derive the identical candidate set, then exact-score it
    QueryDef("q35_dedup_embedding", q35DedupEmbedding _,
      s"""WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |xq AS (SELECT vec_id, i - 1 AS d,
        |              CAST(floor(x * 1000.0) AS BIGINT) AS q
        |       FROM ex),
        |planes AS (
        |  SELECT p, d,
        |         ('0x' || substr(md5(CAST(p AS VARCHAR) || '_'
        |                             || CAST(d AS VARCHAR)), 1, 15))::BIGINT
        |           % 2001 - 1000 AS c
        |  FROM generate_series(0, ${EmbNPlanes - 1}) tp(p),
        |       (SELECT DISTINCT i - 1 AS d FROM ex) td),
        |bits AS (
        |  SELECT vec_id, p, CASE WHEN sum(c * q) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM xq JOIN planes USING (d)
        |  GROUP BY vec_id, p),
        |allbands AS (
        |  SELECT vec_id, p // $EmbBandBits AS k,
        |         CAST(sum(bit << (${EmbBandBits - 1} - (p % $EmbBandBits)))
        |              AS BIGINT) AS v
        |  FROM bits GROUP BY 1, 2),
        |bsz AS (SELECT k, v, count(*) AS n FROM allbands GROUP BY 1, 2),
        |bands AS (
        |  SELECT b.vec_id, b.k, b.v FROM allbands b
        |  JOIN bsz ON bsz.k = b.k AND bsz.v = b.v
        |  WHERE bsz.n <= greatest($EmbCapFloor,
        |    ((SELECT count(*) FROM embeddings) + ${EmbCapDiv - 1})
        |      // $EmbCapDiv)),
        |probes AS (
        |  SELECT vec_id, k, v FROM bands
        |  UNION ALL
        |  SELECT vec_id, k, xor(v, CAST(1 << j AS BIGINT))
        |  FROM bands, generate_series(0, ${EmbBandBits - 1}) tj(j)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        |  FROM probes a JOIN bands b
        |    ON a.k = b.k AND a.v = b.v AND a.vec_id < b.vec_id),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
        |dots AS (
        |  SELECT id1, id2, sum(a.x * b.x) AS dot
        |  FROM cand
        |  JOIN ex a ON a.vec_id = id1
        |  JOIN ex b ON b.vec_id = id2 AND b.i = a.i
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |FROM dots
        |JOIN norms n1 ON n1.vec_id = id1
        |JOIN norms n2 ON n2.vec_id = id2
        |WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.4
        |ORDER BY id1, id2""".stripMargin))
}
