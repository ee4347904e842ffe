package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] similarity search over the `embeddings` table (BASELINE.json
  * mandate): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * All vector math is native codegen kernels (`graft_dot`,
  * `graft_sign_bits`) plus Catalyst column expressions in double
  * precision — no Scala UDFs. Query vectors are the deterministic
  * fixed-count hash-selected batch [[Similarity.queryIds]].
  *
  * Scale story: brute force is O(Q x N) — fine for small query batches
  * (it broadcasts the query set and never shuffles the corpus); the LSH
  * variant buckets the corpus once (shuffle on band value) and only
  * scores candidates sharing a band, the standard recall-vs-cost trade;
  * the IVF variant (q52) replaces the hyperplane bands with Lloyd
  * k-means centroid assignment — same plumbing (bucket -> score ->
  * rank), sqrt(N)-sized cell count.
  */
object Similarity {

  private[operators] val TopK = 10

  /** Query-batch selector: the [[QueryBatchSize]] vectors whose
    * md5("annq_" || vec_id) hashes sort FIRST — a deterministic,
    * FIXED-COUNT evaluation batch (round 13, VERDICT r12 #1). This is
    * THE boundedness knob for the exact ground truth: q36 costs
    * O(Q0 x N) with Q0 a constant, so the query-side broadcast build
    * is structurally constant and the brute arm is linear in the
    * corpus. The previous fixed-RATE selector (vec_id % 100 == 0) made
    * both grow with N — the broadcast build was 1% of the table (a
    * linear-broadcast OOM at corpus scale) and the brute ground truth
    * was O(N²/100); SCALE.md measured 13–22x at 100x pair space for
    * the retrieval-eval consumers. The hash order makes the batch a
    * uniform draw rather than a head-of-table bias, and both engines
    * compute the identical set (md5 of the same string). Kept as one
    * reviewed definition; the oracle SQL interpolates [[QselCte]]. */
  private[graft] val QueryBatchSize = 20

  /** The fixed query-id set: [[QueryBatchSize]] rows, selected by
    * global hash order (TakeOrderedAndProject — one scan, K-sized
    * driver merge), cached per (session, dir). */
  private[graft] def queryIds(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"ann_qsel|$dir") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"))
        .orderBy(md5(concat(lit("annq_"), col("vec_id").cast("string"))),
          col("vec_id"))
        .limit(QueryBatchSize)
    }

  /** The fixed query-id set as a driver value (one K-row collect of
    * [[queryIds]], cached) — class-1 data-deterministic per
    * docs/DETERMINISM.md (a collected query result both engines
    * compute identically from the same parquet). */
  private[graft] def queryIdSet(spark: SparkSession, dir: String): Seq[Long] =
    graft.sources.DfCache.value(spark, s"ann_qsel_ids|$dir")(
      queryIds(spark, dir).collect().map(_.getLong(0)).toSeq.sorted)

  /** Restrict `df` to rows whose `idCol` is in the fixed query batch:
    * a PUSHED-DOWN `IN` literal filter over the collected
    * [[QueryBatchSize]]-row id set — the structurally-constant
    * replacement for the old modulo filter. A broadcast semi-join
    * formulation was measured 2.4x SLOWER end-to-end on the LSH path:
    * the join shape blocks the scan-filter pushdown, and after
    * CollapseProject the probe-bands lambdas inline the full
    * signature expression per probe, so keeping the query side a
    * filtered SCAN (the r12 modulo plan shape) is load-bearing, not
    * cosmetic. The id collect is K rows (20), once per (session,
    * dir). */
  private[graft] def onlyQueries(spark: SparkSession, dir: String,
      df: DataFrame, idCol: String = "vec_id"): DataFrame =
    df.filter(col(idCol).isInCollection(queryIdSet(spark, dir)))

  /** Sequential replay of [[queryIds]] for specs: the
    * [[QueryBatchSize]] ids whose md5("annq_" || id) hex strings sort
    * first (id tie-break), computed driver-side over a full id list. */
  private[graft] def queryIdSetSeq(ids: Seq[Long]): Seq[Long] = {
    def hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    ids.sortBy(id => (hex(s"annq_$id"), id)).take(QueryBatchSize)
  }

  /** DuckDB CTE body for the same fixed query-id set (single line so
    * it can be interpolated into stripMargin templates safely). */
  private[graft] val QselCte: String =
    "qsel AS (SELECT vec_id FROM embeddings ORDER BY " +
      s"md5('annq_' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $QueryBatchSize)"

  private[operators] def queryVecs(spark: SparkSession, dir: String): DataFrame =
    onlyQueries(spark, dir, Tables.embeddings(spark, dir))
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        DedupEmbedding.normExpr.as("na"))

  private[operators] def corpusVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("cid"), col("embedding").as("eb"),
        DedupEmbedding.normExpr.as("nb"))

  private[operators] val simCol =
    round(DedupEmbedding.dotExpr / (col("na") * col("nb")), 6).as("cosine")

  /** Brute-force exact top-k per query, persisted per (session, dir):
    * the baseline q36 exposes AND the ground truth the q37/q52 recall
    * contracts compare against. */
  private[operators] def bruteRanked(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"ann_brute|$dir") {
      val scored = broadcast(queryVecs(spark, dir))
        .crossJoin(corpusVecs(spark, dir))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), simCol)
      val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("cid"), col("cosine"), col("rank"))
    }

  /** q36 — brute-force cosine top-k: broadcast the (small) query batch
    * against the corpus scan; rank per query with a per-partition-key
    * window. Exact baseline for ANN recall measurement. */
  def q36AnnBruteTopK(spark: SparkSession, dir: String): DataFrame =
    bruteRanked(spark, dir).orderBy("qid", "rank")

  /** recall@k of an approximate top-k against [[bruteRanked]], as the
    * DIFFERENTIAL CONTRACT an ANN method must honor: per query,
    * |approx ∩ exact| / |exact| >= floor. Everything upstream is
    * deterministic (fixed hyperplanes/centroids, tie-broken ranks), so a
    * recall regression flips recall_ok to false and fails the driver's
    * hash compare — much stronger than the rows-only check an
    * SQL-inexpressible ANN result would otherwise get. */
  private def perQueryRecall(spark: SparkSession, dir: String,
      approx: DataFrame): DataFrame = {
    val brute = bruteRanked(spark, dir).select(col("qid"), col("cid"))
    val nBrute = brute.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    val hits = approx.select("qid", "cid").join(brute, Seq("qid", "cid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    nBrute.join(hits, Seq("qid"), "left_outer")
      .select(col("qid"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_exact"), 6).as("recall"))
  }

  private def recallContract(spark: SparkSession, dir: String,
      approx: DataFrame, floor: Double): DataFrame =
    perQueryRecall(spark, dir, approx)
      .select(col("qid"), (col("recall") >= floor).as("recall_ok"))
      .orderBy("qid")

  // 12 bands x 4 bits. Band count is THE recall knob: for a neighbor at
  // cosine c, P(bit agree) = 1 - acos(c)/pi, a 4-bit band collides with
  // p^4, and recall ~= 1-(1-p^4)^NBands — at c=0.2 that's ~0.72 with 12
  // bands vs ~0.47 with 6. The price is candidate volume (more bands =
  // more buckets probed), the standard LSH recall-vs-cost trade.
  private val NPlanes = 48
  private val NBands = 12

  /** Embedding dimensionality, probed once per (session, dir) from the
    * data (a limit-1 scan) instead of hardcoding it — a corpus with a
    * different dimension gets correctly-sized hyperplanes rather than a
    * silently truncated projection (ADVICE.md r01). */
  private[operators] def embeddingDim(spark: SparkSession, dir: String): Int =
    graft.sources.DfCache.value(spark, s"embedding_dim|$dir") {
      Tables.embeddings(spark, dir)
        .select(size(col("embedding"))).limit(1).collect().headOption
        .getOrElse(throw new IllegalStateException(
          s"embeddings table at $dir is empty: cannot probe the " +
            "embedding dimension for LSH/IVF indexing"))
        .getInt(0)
    }

  /** Deterministic random-hyperplane matrix: NPlanes x dim, seed 42.
    * Materialized as a literal array-of-arrays column so the signature
    * computation stays a pure Catalyst expression. */
  private[operators] def hyperplanes(dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** NPlanes-bit hyperplane signature of `embedding` (bit j = sign of dot
    * with plane j), plus its NBands x 4-bit bands for LSH bucketing. A row
    * whose embedding dimension differs from the probed corpus dimension
    * raises instead of silently degrading the signature. */
  private def withSignature(df: DataFrame, dim: Int): DataFrame =
    df.withColumn("planes", typedLit(hyperplanes(dim)))
      .withColumn("sig", expr(
        s"""CASE WHEN size(embedding) != $dim THEN
           |  CAST(raise_error(concat('graft LSH: embedding dim ',
           |                          size(embedding), ' != $dim')) AS BIGINT)
           |ELSE aggregate(graft_sign_bits(planes, embedding),
           |  0L, (acc, bit) -> acc * 2 + bit)
           |END""".stripMargin))
      .withColumn("bands", expr(
        s"transform(sequence(0, ${NBands - 1}), k -> named_struct('k', k, 'v', shiftright(sig, k * 4) & 15))"))
      .drop("planes")

  /** Multi-probe bands for the QUERY side: each band's exact value plus
    * its four single-bit flips (the neighboring buckets a near-miss
    * signature most likely fell into). 5x the probe volume on the tiny
    * query set buys the recall of ~5x more hash tables without touching
    * the corpus-side index — the standard multi-probe LSH trade. */
  private def withProbeBands(df: DataFrame, dim: Int): DataFrame =
    withSignature(df, dim)
      .withColumn("bands", expr(
        s"""flatten(transform(sequence(0, ${NBands - 1}), k ->
           |  transform(array(0, 1, 2, 4, 8), m ->
           |    named_struct('k', k,
           |                 'v', CAST(shiftright(sig, k * 4) & 15 AS BIGINT) ^ m))))"""
          .stripMargin))

  /** LSH-bucketed ANN top-k rows. Corpus is bucketed once by band value;
    * only same-bucket candidates are scored. */
  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val dim = embeddingDim(spark, dir)
    val q = withProbeBands(
      onlyQueries(spark, dir, Tables.embeddings(spark, dir)), dim)
      .select(col("vec_id").as("qid"), explode(col("bands")).as("band"))
    val c = withSignature(Tables.embeddings(spark, dir), dim)
      .select(col("vec_id").as("cid"), explode(col("bands")).as("band"))
    // dedup on the NARROW (qid, cid) pair first — multi-probe emits the
    // same pair from up to 5x more buckets, and carrying the embedding
    // arrays through that distinct would multiply the widest shuffle by
    // the duplication factor. Vectors re-attach after the dedup.
    val candidates = q.join(c, q("band") === c("band"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid")
      .distinct()
    val qVecs = queryVecs(spark, dir)
    val cVecs = corpusVecs(spark, dir)
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
    candidates
      .join(broadcast(qVecs), Seq("qid"))
      .join(cVecs, Seq("cid"))
      .select(col("qid"), col("cid"), simCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q37 — LSH ANN as its recall contract vs exact brute force (see
    * [[recallContract]]; the ranked rows themselves are [[lshTopK]],
    * recall-asserted in ScalaTest too). */
  def q37AnnLshTopK(spark: SparkSession, dir: String): DataFrame =
    recallContract(spark, dir, lshTopK(spark, dir), LshRecallFloor)


  private[operators] def avgRecallContract(spark: SparkSession, dir: String,
      approx: DataFrame, floor: Double): DataFrame =
    perQueryRecall(spark, dir, approx)
      .agg(count(lit(1)).as("n_queries"), avg(col("recall")).as("r"))
      .select(col("n_queries"), (col("r") >= floor).as("avg_recall_ok"))

  // floors hold with margin at sf0.001/0.01/0.1 (see DedupSimilaritySpec
  // + ProbeSweep, re-measured on the round-13 fixed 20-query hash
  // batch): multi-probe LSH per-qid min observed 1.0 at every SF;
  // IVF avg observed 0.74-0.88 after the round-4 Lloyd refinement
  // (deterministic — integer-mean centroids, fixed seeds/queries)
  private val LshRecallFloor = 0.8

  /** q304 — EMBEDDING ISOTROPY AUDIT: one-row health report of the
    * vector table every ANN/dedup operator consumes — n, dim, mean
    * squared norm (unit vectors should read ~1), the mean-vector norm
    * (a non-zero common direction is the classic anisotropy defect:
    * cosine scores saturate and LSH/IVF cells skew), the anisotropy
    * ratio ‖Σx‖²/(n·Σ‖x‖²) ∈ [0,1] (0 = perfectly centered, 1 = all
    * mass on one ray), and the dominant dimension of the mean with
    * its energy share. Run BEFORE trusting q35/q36/q52's geometry.
    *
    * Exactness: vectors micro-quantize once (the q243 convention);
    * Σ‖x‖² and the per-dim sums fold as exact BIGINTs, their squares
    * in decimal(38) (q274 rule); every reported number is one fixed
    * double expression over those exact folds.
    *
    * Scale shape: one posexplode pass to the DIM-grain profile (64
    * rows) + one row-grain fold — both combinable map-side. */
  def q304IsotropyAudit(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, v -> " +
        "cast(round(cast(v as double) * 1000000, 0) as bigint))")
        .as("iv"))
    val rows = iv.agg(count(lit(1)).as("n"),
      max(size(col("iv"))).cast("long").as("dim"),
      sum(expr("aggregate(iv, cast(0 as bigint), (a, x) -> a + x * x)"))
        .as("sum_n2"))
    val dims = iv.select(posexplode(col("iv")).as(Seq("d", "v")))
      .groupBy("d").agg(sum("v").as("s_d"))
    val dimAgg = dims.agg(
      sum(col("s_d").cast("decimal(38,0)") * col("s_d")).as("mu2"))
    val dom = dims.orderBy(abs(col("s_d")).desc, col("d")).limit(1)
      .select(col("d").as("dominant_dim"),
        col("s_d").cast("decimal(38,0)").as("s_dom"))
    rows.crossJoin(broadcast(dimAgg)).crossJoin(broadcast(dom))
      .select(col("n"), col("dim"),
        round(col("sum_n2").cast("double") / col("n") / 1e12, 6)
          .as("mean_sq_norm"),
        round(sqrt(col("mu2").cast("double")) / col("n") / 1e6, 6)
          .as("mean_vec_norm"),
        round(col("mu2").cast("double") /
          (col("n").cast("double") * col("sum_n2").cast("double")), 8)
          .as("anisotropy_ratio"),
        col("dominant_dim"),
        round((col("s_dom") * col("s_dom")).cast("double") /
          col("mu2").cast("double"), 6).as("dominant_share"))
  }

  /** q311 — INTRA-LIST DIVERSITY AUDIT of the exact top-k lists: per
    * query, the mean pairwise cosine among its [[TopK]] brute-force
    * neighbors — the redundancy number that says whether plain
    * similarity retrieval (q36) returns ten copies of one thing (ILD
    * → 1) or a varied neighborhood, i.e. the measured justification
    * for q224's MMR re-ranking. List membership is the SAME cached
    * exact ranking q36 exposes; pair similarity uses the
    * integer-vector cosine (the q223/q224 discipline) so the audit
    * itself has no float-sum anywhere: pair cosines micro-quantize
    * before the per-query mean.
    *
    * Scale shape: |queries|·C(k,2) = 45 pairs per query over the
    * cached top-k table — the k²-bounded profile, never a corpus
    * pass; the int dot is one codegen-friendly aggregate lambda. */
  def q311IldAudit(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, v -> " +
        "cast(round(cast(v as double) * 1000000, 0) as bigint))")
        .as("iv"))
      .withColumn("n2",
        expr("aggregate(iv, cast(0 as bigint), (a, x) -> a + x * x)"))
    val top = bruteRanked(spark, dir).select("qid", "cid")
    val m = top.join(iv.select(col("vec_id").as("cid"), col("iv"),
      col("n2")), Seq("cid"))
    val pairs = m.select(col("qid"), col("cid").as("c1"),
        col("iv").as("iv1"), col("n2").as("n2a"))
      .join(m.select(col("qid"), col("cid").as("c2"),
        col("iv").as("iv2"), col("n2").as("n2b")), Seq("qid"))
      .filter(col("c1") < col("c2"))
    val dot = expr("aggregate(zip_with(iv1, iv2, (x, y) -> x * y), " +
      "cast(0 as bigint), (a, t) -> a + t)")
    val cos = dot.cast("double") /
      (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double")))
    pairs
      .select(col("qid"),
        round(cos * lit(1000000d), 0).cast("long").as("mu"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_pairs"), sum("mu").as("s_mu"))
      .select(col("qid"), col("n_pairs"),
        round(col("s_mu").cast("double") / col("n_pairs") / 1e6, 6)
          .as("ild"))
      .orderBy("qid")
  }


  /** Oracle CTEs of the exact brute scoring behind q36: the query
    * batch `qsel`, coordinates `ex`, vector norms `norms` (vec_id, nrm)
    * and every query's raw dot with each other vector `dots` (qid, cid,
    * dot); q311, q131 and q170 read it too. */
  private[operators] val bruteDotsCtes: String =
    s"""$QselCte,
      |ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.x * b.x) AS dot
      |  FROM ex a JOIN ex b ON a.i = b.i
      |                     AND a.vec_id IN (SELECT vec_id FROM qsel)
      |                     AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q311_ild_audit", q311IldAudit _,
      s"""WITH $bruteDotsCtes,
        |ranked AS (
        |  SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (n1.nrm * n2.nrm), 6) DESC,
        |                    cid ASC) AS rank
        |  FROM dots
        |  JOIN norms n1 ON n1.vec_id = qid
        |  JOIN norms n2 ON n2.vec_id = cid),
        |top AS (SELECT qid, cid FROM ranked WHERE rank <= 10),
        |exi AS (
        |  SELECT vec_id,
        |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
        |           0) AS BIGINT) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |n2 AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2
        |       FROM exi GROUP BY 1),
        |pairs AS (
        |  SELECT a.qid, a.cid AS c1, b.cid AS c2
        |  FROM top a JOIN top b ON a.qid = b.qid AND a.cid < b.cid),
        |pair_dots AS (
        |  SELECT p.qid, p.c1, p.c2, CAST(sum(e1.v * e2.v) AS BIGINT)
        |           AS dot
        |  FROM pairs p
        |  JOIN exi e1 ON e1.vec_id = p.c1
        |  JOIN exi e2 ON e2.vec_id = p.c2 AND e2.i = e1.i
        |  GROUP BY 1, 2, 3),
        |mus AS (
        |  SELECT d.qid,
        |         CAST(round(CAST(d.dot AS DOUBLE)
        |               / (sqrt(CAST(za.n2 AS DOUBLE))
        |                  * sqrt(CAST(zb.n2 AS DOUBLE)))
        |               * 1000000, 0) AS BIGINT) AS mu
        |  FROM pair_dots d
        |  JOIN n2 za ON za.vec_id = d.c1
        |  JOIN n2 zb ON zb.vec_id = d.c2)
        |SELECT qid, CAST(count(*) AS BIGINT) AS n_pairs,
        |       round(CAST(sum(mu) AS DOUBLE) / count(*) / 1e6, 6) AS ild
        |FROM mus GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q304_isotropy_audit", q304IsotropyAudit _,
      """WITH iv AS (
        |  SELECT vec_id,
        |         list_transform(embedding, v ->
        |           CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
        |           AS iv
        |  FROM embeddings),
        |rows_ AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(max(len(iv)) AS BIGINT) AS dim,
        |         CAST(sum(list_aggregate(
        |           list_transform(iv, x -> x * x), 'sum')) AS BIGINT)
        |           AS sum_n2
        |  FROM iv),
        |dims AS (
        |  SELECT d, CAST(sum(iv[d]) AS BIGINT) AS s_d
        |  FROM iv CROSS JOIN
        |    (SELECT unnest(generate_series(1, (SELECT CAST(dim AS INTEGER)
        |       FROM rows_))) AS d)
        |  GROUP BY 1),
        |dim_agg AS (
        |  SELECT sum(CAST(s_d AS HUGEINT) * s_d) AS mu2 FROM dims),
        |dom AS (
        |  SELECT CAST(d - 1 AS INTEGER) AS dominant_dim,
        |         CAST(s_d AS HUGEINT) AS s_dom
        |  FROM dims ORDER BY abs(s_d) DESC, d LIMIT 1)
        |SELECT r.n, r.dim,
        |       round(CAST(r.sum_n2 AS DOUBLE) / r.n / 1e12, 6)
        |         AS mean_sq_norm,
        |       round(sqrt(CAST(a.mu2 AS DOUBLE)) / r.n / 1e6, 6)
        |         AS mean_vec_norm,
        |       round(CAST(a.mu2 AS DOUBLE)
        |             / (CAST(r.n AS DOUBLE) * CAST(r.sum_n2 AS DOUBLE)), 8)
        |         AS anisotropy_ratio,
        |       d.dominant_dim,
        |       round(CAST(d.s_dom * d.s_dom AS DOUBLE)
        |             / CAST(a.mu2 AS DOUBLE), 6) AS dominant_share
        |FROM rows_ r, dim_agg a, dom d""".stripMargin),
    QueryDef("q36_ann_brute_topk", q36AnnBruteTopK _,
      s"""WITH $bruteDotsCtes,
        |scored AS (
        |  SELECT qid, cid,
        |         round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |  FROM dots
        |  JOIN norms n1 ON n1.vec_id = qid
        |  JOIN norms n2 ON n2.vec_id = cid),
        |ranked AS (
        |  SELECT qid, cid, cosine,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY cosine DESC, cid ASC) AS INT)
        |           AS rank
        |  FROM scored)
        |SELECT qid, cid, cosine, rank FROM ranked
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
    // The LSH/IVF internals (hyperplane matrix, centroid assignment) are
    // Scala-side deterministic constants, not SQL-expressible — so the
    // oracle checks the CONTRACT instead: every query must reach the
    // recall floor vs exact brute force. A recall regression flips
    // recall_ok and fails the compare.
    QueryDef("q37_ann_lsh_topk", q37AnnLshTopK _,
      s"""WITH $QselCte
        |SELECT vec_id AS qid, TRUE AS recall_ok FROM qsel
        |ORDER BY qid""".stripMargin))
}
