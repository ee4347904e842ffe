package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

import Similarity.{QselCte, onlyQueries}

/** [EXT] EMBEDDING-space deduplication (split from [[Dedup]], VERDICT
  * r04 #6): exact vector dedup (q119) and LSH-banded cosine near-dup
  * (q35), plus the shared vector-math column expressions every
  * similarity operator builds on (`normExpr` / `dotExpr`, both backed
  * by the native codegen `graft_dot` kernel).
  *
  * Scale design is [[Dedup]]'s: candidate generation is always a
  * shuffle on a content key (here: quantized-coordinate hash or sign
  * band), never a pairwise scan; hot buckets are capped proportionally.
  *
  * Also here: binary-signature Hamming retrieval on the q35 bands (q348)
  * and the random-projection distortion audit (q354); their oracles share
  * q35's CTE text ([[signPlanesCtes]]).
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


  /** q348 top-k depth. */
  private[graft] val HammK = 10

  /** q348 — BINARY-SIGNATURE HAMMING RETRIEVAL: the 96-bit sign
    * signature q35 already computes (12 bands × 8 bits, engine-portable
    * md5 planes) reused as a COMPRESSED retrieval index — the classic
    * "binary embedding" serving trick (32 B/vector instead of 256 B,
    * popcount instead of float dots). Candidates come from the q35
    * band equi-join (share ≥ 1 exact 8-bit band, hot-capped both
    * sides); ranking is FULL 96-bit Hamming distance (Σ per-band
    * popcount of XOR), top-[[HammK]] per query with (hamming, cid)
    * tie-break. Everything is integer arithmetic, so the DuckDB oracle
    * verifies the exact lists end to end; recall vs the float-cosine
    * ground truth is spec-measured (DedupSimilaritySpec).
    *
    * Scale shape: one cached signature table (12 rows/vector), a
    * bucket equi-join on the band content key, popcount ranking on
    * the candidate profile — the q224/q35 candidate discipline; no
    * Q×N scan anywhere. */
  def q348HammingRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val raw = DedupEmbedding.embeddingBands(spark, dir)
    val nVecs = AnnIndex.embCount(spark, dir)
    val small = raw.groupBy("k", "v")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= DedupEmbedding.embHotBucketCap(nVecs))
      .select("k", "v")
    val bands = raw.join(broadcast(small), Seq("k", "v"))
    val cand = Similarity.onlyQueries(spark, dir, bands)
      .select(col("vec_id").as("qid"), col("k"), col("v"))
      .join(bands.select(col("vec_id").as("cid"), col("k"), col("v")),
        Seq("k", "v"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .distinct()
    // read twice: the query side and the candidate side
    val sig = raw.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(k, v))), s -> s.v)")
        .as("sig"))
      .localCheckpoint()
    val w = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    cand
      .join(sig.select(col("vec_id").as("qid"), col("sig").as("qs")),
        Seq("qid"))
      .join(sig.select(col("vec_id").as("cid"), col("sig").as("cs")),
        Seq("cid"))
      .withColumn("hamming", expr(
        "cast(aggregate(zip_with(qs, cs, (a, b) -> bit_count(a ^ b)), " +
          "0, (acc, h) -> acc + h) as int)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HammK)
      .select(col("qid"), col("rank"), col("cid"), col("hamming"))
      .orderBy("qid", "rank")
  }

  /** q354 random-projection target dimension. */
  private[graft] val JlDim = 16

  /** q354 — RANDOM-PROJECTION DISTORTION AUDIT (Johnson–Lindenstrauss
    * health check): project the quantized embeddings onto the first
    * [[JlDim]] q35 hyperplanes (md5-derived integer planes — exact
    * BIGINT coordinates) and measure, over a deterministic
    * strided-pair sample, how tightly the projected squared distances
    * track the original ones — the spread (max/min of the per-pair
    * ratio) is the distortion number that says whether a 16-d sketch
    * is safe for coarse filtering of this corpus. Pairs are
    * (q, q + j), j = 1..5 by key arithmetic — an equi-join, never a
    * pair scan.
    *
    * Exactness: both distances are exact BIGINT sums of squared
    * integer differences; each pair's ratio is ONE double division
    * micro-quantized before the min/max/mean folds. */
  def q354JlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val dim = Similarity.embeddingDim(spark, dir)
    val planes = DedupEmbedding.portablePlanes(dim).take(JlDim)
    val prepped = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0D) AS DOUBLE))")
        .as("xq"))
      .withColumn("planes", typedLit(planes))
      .withColumn("y", expr(
        "transform(planes, p -> cast(graft_dot(p, xq) as bigint))"))
      .withColumn("xqi", expr("transform(xq, v -> cast(v as bigint))"))
      .select(col("vec_id"), col("xqi"), col("y"))
    val qs = Similarity.onlyQueries(spark, dir, prepped)
      .select(col("vec_id").as("qid"), col("xqi").as("xa"),
        col("y").as("ya"))
      .select(col("qid"), col("xa"), col("ya"),
        explode(expr("transform(sequence(1, 5), j -> qid + j)"))
          .as("cid"))
    val pairs = qs.join(prepped.select(col("vec_id").as("cid"),
      col("xqi").as("xb"), col("y").as("yb")), Seq("cid"))
    def sq(a: String, b: String): org.apache.spark.sql.Column = expr(
      s"aggregate(zip_with($a, $b, (u, v) -> (u - v) * (u - v)), " +
        "cast(0 as bigint), (acc, t) -> acc + t)")
    pairs
      .withColumn("d2", sq("xa", "xb"))
      .withColumn("p2", sq("ya", "yb"))
      .filter(col("d2") > 0L)
      .withColumn("ratio_micro", expr(
        "cast(round(cast(p2 as double) / cast(d2 as double), 0) as bigint)"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(round(avg(ratio_micro), 0) as bigint)")
          .as("mean_ratio_micro"),
        min(col("ratio_micro")).as("min_ratio_micro"),
        max(col("ratio_micro")).as("max_ratio_micro"))
      .select(col("n_pairs"), col("mean_ratio_micro"),
        col("min_ratio_micro"), col("max_ratio_micro"),
        round(col("max_ratio_micro").cast("double") /
          col("min_ratio_micro"), 6).as("spread"))
  }

  /** Oracle CTE text of the sign-hash embedding derivation: `ex` (one
    * row per coordinate), `xq` (floor(x*1000) integer coordinates) and
    * `planes` (hyperplanes 0 until `nPlanes` of md5-derived integer
    * coefficients in [-1000, 1000], hashed from `seed` || p || '_' || d;
    * `planesWhere` filters them), left open after `td` for the caller's
    * `)`. It carries `|` margins: interpolate it inside a literal that is
    * stripMargin'd once, at a line start. Shared by q35, q348, q354 and
    * q224 (`Mmr`). */
  private[graft] def signPlanesCtes(nPlanes: Int, seed: String = "",
      planesWhere: String = ""): String =
    s"""ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |xq AS (SELECT vec_id, i - 1 AS d,
      |              CAST(floor(x * 1000.0) AS BIGINT) AS q
      |       FROM ex),
      |planes AS (
      |  SELECT p, d,
      |         ('0x' || substr(md5(${seed}CAST(p AS VARCHAR) || '_'
      |                             || CAST(d AS VARCHAR)), 1, 15))::BIGINT
      |           % 2001 - 1000 AS c
      |  FROM generate_series(0, ${nPlanes - 1}) tp(p),
      |       (SELECT DISTINCT i - 1 AS d FROM ex) td${
      if (planesWhere.isEmpty) "" else s"\n      |  WHERE $planesWhere"}"""

  /** q35's banding through the 8-bit bands (`bits`, `allbands`) over
    * [[EmbNPlanes]] sign planes; `|` margins as [[signPlanesCtes]]. */
  private def embBandsCtes: String =
    s"""${signPlanesCtes(EmbNPlanes)}),
      |bits AS (
      |  SELECT vec_id, p, CASE WHEN sum(c * q) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM xq JOIN planes USING (d)
      |  GROUP BY vec_id, p),
      |allbands AS (
      |  SELECT vec_id, p // $EmbBandBits AS k,
      |         CAST(sum(bit << (${EmbBandBits - 1} - (p % $EmbBandBits)))
      |              AS BIGINT) AS v
      |  FROM bits GROUP BY 1, 2),"""

  /** Shared oracle CTE text: q35's engine-portable banding (planes,
    * sign bits, 8-bit MSB-first packing, hot cap) — verbatim the
    * q35 derivation so q348 verifies the identical signatures. */
  private def bandCtes: String =
    s"""$embBandsCtes
      |bsz AS (SELECT k, v, count(*) AS cnt FROM allbands GROUP BY 1, 2),
      |okb AS (
      |  SELECT a.vec_id, a.k, a.v FROM allbands a
      |  JOIN bsz ON bsz.k = a.k AND bsz.v = a.v
      |  WHERE bsz.cnt <= greatest($EmbCapFloor,
      |    ((SELECT count(*) FROM embeddings) + ${EmbCapDiv - 1})
      |      // $EmbCapDiv))""".stripMargin

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
      s"""WITH $embBandsCtes
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
        |ORDER BY id1, id2""".stripMargin),
    // NOTE: bandCtes is already stripped — concatenate, never
    // stripMargin over it again (a second pass eats the `||` concat
    // lines inside it; the q224 mmrSql lesson)
    QueryDef("q348_hamming_retrieval", q348HammingRetrieval _,
      (s"WITH $QselCte,\n$bandCtes,\n" +
      s"""cand AS (
        |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
        |  FROM okb q JOIN okb c ON q.k = c.k AND q.v = c.v
        |  WHERE q.vec_id IN (SELECT vec_id FROM qsel)
        |    AND c.vec_id <> q.vec_id),
        |ham AS (
        |  SELECT qid, cid,
        |         CAST(sum(bit_count(xor(a.v, b.v))) AS INT) AS hamming
        |  FROM cand
        |  JOIN allbands a ON a.vec_id = qid
        |  JOIN allbands b ON b.vec_id = cid AND b.k = a.k
        |  GROUP BY 1, 2)
        |SELECT qid, CAST(rn AS INT) AS rank, cid, hamming FROM (
        |  SELECT qid, cid, hamming,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY hamming, cid) AS rn
        |  FROM ham)
        |WHERE rn <= $HammK ORDER BY qid, rn""".stripMargin)),
    QueryDef("q354_jl_distortion", q354JlDistortion _,
      {
      s"""WITH $QselCte,
        |${signPlanesCtes(JlDim)}),
        |proj AS (
        |  SELECT vec_id, p, CAST(sum(c * q) AS BIGINT) AS y
        |  FROM xq JOIN planes USING (d) GROUP BY 1, 2),
        |prs AS (
        |  SELECT a.vec_id AS qid, a.vec_id + j AS cid
        |  FROM (SELECT DISTINCT vec_id FROM xq
        |        WHERE vec_id IN (SELECT vec_id FROM qsel)) a,
        |       generate_series(1, 5) tj(j)),
        |pairs AS (
        |  SELECT p.qid, p.cid FROM prs p
        |  JOIN (SELECT DISTINCT vec_id FROM xq) b ON b.vec_id = p.cid),
        |d2 AS (
        |  SELECT pr.qid, pr.cid,
        |         CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
        |  FROM pairs pr
        |  JOIN xq a ON a.vec_id = pr.qid
        |  JOIN xq b ON b.vec_id = pr.cid AND b.d = a.d
        |  GROUP BY 1, 2),
        |p2 AS (
        |  SELECT pr.qid, pr.cid,
        |         CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS p2
        |  FROM pairs pr
        |  JOIN proj a ON a.vec_id = pr.qid
        |  JOIN proj b ON b.vec_id = pr.cid AND b.p = a.p
        |  GROUP BY 1, 2),
        |ratios AS (
        |  SELECT CAST(round(CAST(p2.p2 AS DOUBLE)
        |                    / CAST(d2.d2 AS DOUBLE), 0) AS BIGINT)
        |           AS ratio_micro
        |  FROM d2 JOIN p2 ON p2.qid = d2.qid AND p2.cid = d2.cid
        |  WHERE d2.d2 > 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(round(avg(ratio_micro), 0) AS BIGINT)
        |         AS mean_ratio_micro,
        |       CAST(min(ratio_micro) AS BIGINT) AS min_ratio_micro,
        |       CAST(max(ratio_micro) AS BIGINT) AS max_ratio_micro,
        |       round(CAST(max(ratio_micro) AS DOUBLE) / min(ratio_micro),
        |             6) AS spread
        |FROM ratios""".stripMargin
    }))
}
