package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables
import Similarity.{QselCte, TopK, onlyQueries, queryVecs, corpusVecs, simCol,
  bruteRanked, avgRecallContract}
import AnnIndex.{ivfCentroids, nearestCells}

/** [EXT] retrieval-layer operators over the embedding corpus (split
  * from [[Similarity]], VERDICT r04 #6): SemDeDup cluster-blocked
  * semantic dedup (q107), labeled-centroid evaluation (q101),
  * truncated-prefix ANN (q129), deterministic negative sampling
  * (q131), and hybrid BM25+dense RRF retrieval (q120).
  *
  * Also here: the retrieval exposure audit (q350) and the simplified
  * silhouette of the labeled centroids (q386).
  */
object AnnRetrieval {


  // ---- q107: SemDeDup (cluster-blocked semantic dedup) ----

  /** Pairs are scored only INSIDE a blocking cell; threshold aligned
    * with q35's near-dup cosine floor so the two operators agree on
    * what "semantic duplicate" means. */
  private[operators] val SemDedupT = 0.4

  /** Each vector blocks into its top-4 IVF cells: a near-threshold pair
    * straddling one cell boundary still meets in a shared probe cell —
    * same recall idea as q37's multi-probe, at 4x pair cost. Measured
    * audit recall at sf0.1 (weakly-clustered synthetic vectors, the
    * hard case): 2 blocks 0.36, 3 blocks 0.55, 4 blocks 0.82 — the
    * knob trades pair-join volume for boundary recall exactly like
    * IVF's nprobe. */
  private val SemDedupBlocks = 4

  /** Audit-subset recall floor: observed 0.82 at sf0.1 (4 blocks) and
    * 1.0 at sf0.01, so 0.5 holds with margin while still collapsing on
    * any real blocking regression. */
  private val SemDedupRecallFloor = 0.5

  /** The SemDeDup drop list: every vector with a LOWER-id neighbor at
    * cosine >= [[SemDedupT]] inside one of its blocking cells, with its
    * best witness. Keep-lowest-id makes the survivor set deterministic
    * and idempotent (re-running dedup on survivors drops nothing new
    * within a block). The blocking reuses q52's cached Lloyd centroids:
    * at 100 TB the corpus is already written bucketed by cell for IVF
    * search, so this pass reads each cell's files independently — the
    * SemDeDup paper's cluster-then-pairwise shape, never corpus^2. */
  private[graft] def semanticDrops(spark: SparkSession, dir: String)
      : DataFrame = {
    val all = AnnIndex.normedVecs(spark, dir)
    val centroids = ivfCentroids(spark, dir)
    val blocked = nearestCells(all, centroids, SemDedupBlocks, "brank")
      .select(col("cent_id").as("cell"), col("vec_id"), col("embedding"),
        col("nrm"))
    val hi = blocked.select(col("cell"), col("vec_id").as("qid"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val lo = blocked.select(col("cell"), col("vec_id").as("cid"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    hi.join(lo, Seq("cell"))
      .filter(col("cid") < col("qid"))
      .select(col("qid"), col("cid"), simCol)
      .filter(col("cosine") >= SemDedupT)
      .groupBy(col("qid").as("vec_id"))
      .agg(max_by(col("cid"), struct(col("cosine"), (-col("cid")).as("tb")))
        .as("witness_id"),
        max(col("cosine")).as("witness_cos"))
  }

  /** q107 — SemDeDup as its contract (same pattern as q37/q52: the
    * blocking internals are Scala-side deterministic, so the oracle
    * pins the contract booleans): (1) every drop is witnessed — its
    * recorded witness has a lower id and EXACT cosine >= t, so
    * precision is 1 by construction and the boolean guards the
    * plumbing; (2) on the fixed [[Similarity.queryIds]] audit subset, the blocked
    * drop set recovers at least [[SemDedupRecallFloor]] of the
    * ground-truth droppable vectors (those with ANY lower-id corpus
    * neighbor at cosine >= t, computed O(Q x N) exactly). */
  def q107SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val drops = semanticDrops(spark, dir)
    val nVec = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_vectors"))
    val witnessOk = drops.agg(coalesce(
      expr("bool_and(witness_id < vec_id)") &&
        expr(s"bool_and(witness_cos >= $SemDedupT)"),
      lit(true)).as("drops_witnessed"))
    val truth = corpusVecs(spark, dir)
      .crossJoin(broadcast(queryVecs(spark, dir)))
      .filter(col("cid") < col("qid"))
      .select(col("qid"), col("cid"), simCol)
      .filter(col("cosine") >= SemDedupT)
      .select(col("qid")).distinct()
    val caught = onlyQueries(spark, dir, drops)
      .select(col("vec_id").as("qid"), lit(1).as("hit"))
    val recallOk = truth.join(caught, Seq("qid"), "left")
      .agg((count(col("hit")).cast("double") >=
        count(lit(1)) * SemDedupRecallFloor).as("subset_recall_ok"))
    nVec.crossJoin(witnessOk).crossJoin(recallOk)
  }

  /** q101 — labeled-embedding centroid evaluation: per-label centroid
    * (per-dimension mean via posexplode — no UDF array math) and each
    * member's cosine to its own centroid, averaged per label. The
    * standard embedding-space quality probe (tight clusters => high
    * intra-label cosine) run after training or before using labels for
    * supervised filtering. Centroids are |labels| x dim — broadcast. */
  def q101CentroidEval(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val cent = ex.groupBy("label", "pos").agg(avg(col("v")).as("c"))
    ex.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("label", "vec_id")
      .agg(sum(col("v") * col("c")).as("dot"),
        sqrt(sum(col("v") * col("v"))).as("nv"),
        sqrt(sum(col("c") * col("c"))).as("nc"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("dot") / (col("nv") * col("nc"))), 4)
          .as("avg_cosine_to_centroid"))
      .orderBy("label")
  }

  /** Matryoshka-style truncation: shortlist on the first [[TruncDims]]
    * dimensions only. 32 of 64 dims = 2x less data scanned in the
    * shortlist pass. A 16-dim prefix was measured first and REJECTED:
    * avg recall@10 0.62/0.68/0.39 across the SFs — these synthetic
    * embeddings spread signal uniformly over coordinates (they are not
    * MRL-trained, so nothing front-loads the prefix), and a quarter of
    * the dimensions keeps only a quarter of the signal. With real MRL
    * embeddings the same operator runs at far deeper truncation. */
  private val TruncDims = 32
  private val TruncShortlist = 100
  // measured avg recall@10 (deterministic, ProbeSweep): 0.96 / 0.90 /
  // 0.74 at sf0.001 / 0.01 / 0.1 — floor 0.5 holds with margin
  private val TruncRecallFloor = 0.5

  /** Truncated-prefix ANN top-k rows: rank the corpus by cosine over
    * only the FIRST [[TruncDims]] coordinates (the Matryoshka /
    * dimension-truncation serving trick: with MRL-trained embeddings
    * the prefix carries most of the signal, and the shortlist pass
    * reads a 4x narrower column), keep [[TruncShortlist]] per query,
    * exact-re-rank with full-dimension cosine to [[TopK]]. Same
    * two-tier shape as PQ-ADC (q113) with truncation instead of
    * quantization as the compressor: raw 64-dim vectors are touched
    * only for the shortlist. At 100 TB the prefix lives as its own
    * (bucketed) column/file so the shortlist scan does half the I/O
    * (a quarter with MRL-trained embeddings at 16 dims);
    * cost O(Q x N x TruncDims) + O(Q x TruncShortlist x dim). */
  def truncatedTopK(spark: SparkSession, dir: String): DataFrame = {
    // per-vector prefix norms are computed ONCE here, not inside the
    // Q x N shortlist projection (code-review r04: the inline form
    // evaluated three dots + two sqrts per pair)
    def prefix(df: DataFrame, idCol: String, out: String,
        normOut: String): DataFrame =
      df.select(col(idCol), expr(
          s"slice(CAST(embedding AS ARRAY<DOUBLE>), 1, $TruncDims)").as(out))
        .withColumn(normOut, sqrt(expr(s"graft_dot($out, $out)")))
    val emb = Tables.embeddings(spark, dir)
    val qs = prefix(onlyQueries(spark, dir, emb),
      "vec_id", "qp", "qn").withColumnRenamed("vec_id", "qid")
    val cs = prefix(emb, "vec_id", "cp", "cn")
      .withColumnRenamed("vec_id", "cid")
    val wS = Window.partitionBy("qid").orderBy(desc("trunc_cos"), asc("cid"))
    val shortlist = broadcast(qs).crossJoin(cs)
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (expr("graft_dot(qp, cp)") / (col("qn") * col("cn")))
          .as("trunc_cos"))
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= TruncShortlist)
      .select("qid", "cid")
    val qv = queryVecs(spark, dir)
    val cv = corpusVecs(spark, dir)
    val wE = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
    shortlist
      .join(qv, Seq("qid")).join(cv, Seq("cid"))
      .select(col("qid"), col("cid"), simCol)
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q129 — truncated-prefix ANN recall contract (see [[truncatedTopK]]). */
  def q129AnnTruncated(spark: SparkSession, dir: String): DataFrame =
    avgRecallContract(spark, dir, truncatedTopK(spark, dir), TruncRecallFloor)

  private val NegK = 5

  /** q131 — deterministic negative sampling for contrastive training:
    * per query vector, emit its exact nearest neighbor as the positive
    * and [[NegK]] hash-ranked corpus vectors as negatives, EXCLUDING
    * the query's true top-10 — the false-negative filter (sampling a
    * genuine near-neighbor as a "negative" actively teaches the wrong
    * thing, so production pipelines exclude known neighbors before
    * drawing). The draw is a content-hash priority race over
    * (qid, cid), so the sample is partitioning-invariant and the
    * DuckDB oracle draws the IDENTICAL rows (q112's A-ES trick, here
    * unweighted). Scale: candidate ranking is the q36 broadcast shape
    * (Q0 x N rows, Q0 the fixed [[Similarity.QueryBatchSize]]) with a per-qid window
    * — at 100 TB the exclusion set comes from the serving ANN index
    * instead of exact ground truth and the race keys stream through
    * the same TakeOrdered shape. */
  def q131NegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val top = bruteRanked(spark, dir).select("qid", "cid")
    val pos = bruteRanked(spark, dir).filter(col("rank") === 1)
      .select(col("qid"), col("cid").as("pos_id"))
    val qids = Similarity.queryIds(spark, dir)
      .select(col("vec_id").as("qid"))
    val cids = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("cid"))
    val wN = Window.partitionBy("qid").orderBy(asc("pri"), asc("cid"))
    broadcast(qids).crossJoin(cids)
      .filter(col("qid") =!= col("cid"))
      .join(top, Seq("qid", "cid"), "left_anti")
      .withColumn("pri", Hashing.md5Hash60(
        concat(lit("neg:"), col("qid").cast("string"),
          lit(":"), col("cid").cast("string"))))
      .withColumn("neg_rank", row_number().over(wN))
      .filter(col("neg_rank") <= NegK)
      .join(pos, Seq("qid"))
      .select(col("qid"), col("pos_id"), col("neg_rank"),
        col("cid").as("neg_id"))
      .orderBy("qid", "neg_rank")
  }

  /** Reciprocal-rank-fusion constant: the standard k=60 from the
    * original RRF formulation — large enough that rank 1 vs rank 2
    * differences don't dominate, small enough that ranks matter. */
  private val RrfK = 60

  /** q120 — hybrid retrieval: fuse the q96 BM25 lexical ranking with a
    * dense cosine ranking (query = vector 0) by reciprocal-rank fusion,
    * the production RAG retrieval shape (sparse recalls rare exact
    * terms, dense recalls paraphrases; RRF needs no score calibration
    * because it consumes only RANKS). Both arms are top-20 global
    * TakeOrderedAndProject heads, the fusion is a 20+20-row full outer
    * join — corpus cost is the two arm scans, both already linear and
    * shuffle-minimal; nothing about fusion itself grows with N. */
  def q120HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextOps.q96Bm25(spark, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        DedupEmbedding.normExpr.as("na"))
    val vec = broadcast(q).crossJoin(corpusVecs(spark, dir))
      .filter(col("cid") =!= col("qid"))
      .select(col("cid").as("doc_id"), simCol)
      .orderBy(desc("cosine"), asc("doc_id")).limit(20)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(desc("cosine"), asc("doc_id"))))
      .select(col("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)), 6))
      .orderBy(desc("rrf"), asc("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("rrf"), asc("doc_id"))))
      .select(col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy("rank")
  }

  /** q170 chunking params (q104's context-window values) + budget. */
  private val CtxWin = 256
  private val CtxStride = 192
  private val CtxTopDocs = 5
  private val CtxTokenBudget = 128

  /** q170 — RAG context assembly: the end-to-end prep a
    * retrieval-augmented generation serving layer runs per query,
    * composing four operators this engine already proves separately
    * into the production order: exact dense top-[[CtxTopDocs]] docs
    * per query (the cached q36 ground-truth table — rank ≤ 5 slice,
    * zero extra corpus work), q104's fixed-window chunking of JUST the
    * retrieved docs, per-query exact chunk dedup by content md5
    * (near-dup retrieved docs share boilerplate chunks — sending them
    * twice wastes context window), and q98's running-sum prefix pack
    * under a [[CtxTokenBudget]]-token budget in (doc rank, chunk
    * order). The budget is a strict PREFIX: the running sum includes
    * every deduped chunk in context order, and assembly stops at the
    * first overflow — a skip-and-continue fill would reorder evidence
    * relative to retrieval rank.
    *
    * Scale: per query the work is [[CtxTopDocs]] documents' worth of
    * chunking and a ≤dozens-row window — query-batch-bounded,
    * corpus-independent; the only corpus-scale input is the retrieval
    * arm, which is the already-audited ANN serving stack. */
  def q170ContextAssembly(spark: SparkSession, dir: String): DataFrame = {
    val top = Similarity.q36AnnBruteTopK(spark, dir)
      .filter(col("rank") <= CtxTopDocs)
      .select(col("qid"), col("rank"), col("cid").as("doc_id"))
    val chunks = top
      .join(Tables.documents(spark, dir), Seq("doc_id"))
      .select(col("qid"), col("rank"), col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(1, greatest(length(text), 1), $CtxStride),
             |          p -> struct(p AS start_pos,
             |                      substring(text, p, $CtxWin) AS chunk))"""
            .stripMargin)).as(Seq("chunk_ix", "c")))
      .select(col("qid"), col("rank"), col("doc_id"), col("chunk_ix"),
        col("c.start_pos").as("start_pos"),
        size(split(trim(col("c.chunk")), " ")).as("n_tokens"),
        md5(col("c.chunk")).as("chunk_md5"))
    val wDedup = Window.partitionBy("qid", "chunk_md5")
      .orderBy("rank", "chunk_ix")
    val wPack = Window.partitionBy("qid").orderBy("rank", "chunk_ix")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("dup_rn", row_number().over(wDedup))
      .filter(col("dup_rn") === 1)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wPack))
      .filter(col("cum_tokens") <= CtxTokenBudget)
      .select("qid", "rank", "doc_id", "chunk_ix", "start_pos",
        "n_tokens", "cum_tokens", "chunk_md5")
      .orderBy("qid", "rank", "chunk_ix")
  }

  /** The micro-quantized (label × dim) centroid profile shared by
    * q223/q233/q265/q386 (one cached build per (session, dir)): per-
    * coordinate sums fold exact BIGINT micro-units, the centroid is
    * re-quantized to integer micro-units after the single mean
    * division, so every downstream dot/norm fold runs over exact
    * integers (the q169 pattern — see q223's design note). */
  private[operators] def labelCentroids(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"label_centroids|$dir")(
      Tables.embeddings(spark, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
            .as("s"))
        .select(col("label"), col("pos"), col("n"),
          expr("cast(round(cast(s as double) / n, 0) as bigint)").as("cq")))

  /** q223 — PER-CLASS CENTROID SEPARATION: the pairwise cosine matrix
    * of label centroids over the embedding table — the embedding-space
    * separability audit run before trusting labels for retrieval
    * filtering or classifier training (well-separated centroids ⇒ the
    * label is recoverable from the geometry; near-parallel centroids ⇒
    * the classes are entangled).
    *
    * Determinism discipline (the q169 micro-quantization pattern, plus
    * one trick): per-coordinate sums fold MICRO-QUANTIZED BIGINTs, the
    * centroid itself is re-quantized to integer micro-units after the
    * single mean division, and — because cosine is scale-invariant —
    * the dot/norm folds then run entirely over exact integers, so the
    * only doubles are two sqrts, one product, and one division at the
    * very end. No float sum ever crosses rows.
    *
    * Scale shape: one posexplode + (label × dim) hash aggregate (the
    * combinable fold of the scan), then all pair arithmetic happens on
    * the |labels|·dim centroid profile — 640 rows here, model-sized at
    * any corpus scale. */
  def q223CentroidSeparation(spark: SparkSession, dir: String): DataFrame = {
    val cd = labelCentroids(spark, dir)
    val a = cd.select(col("label").as("label_a"), col("pos"),
      col("n").as("na"), col("cq").as("ca"))
    val b = cd.select(col("label").as("label_b"), col("pos"),
      col("n").as("nb"), col("cq").as("cb"))
    a.join(b, Seq("pos")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na2"),
        sum(col("cb") * col("cb")).as("nb2"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double"))), 6).as("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  /** The centroid scoring chain q233 and q265 share: every (vector,
    * label centroid) pair of the cached [[labelCentroids]] with its
    * exact BIGINT micro-unit `dot` and score = dot / ‖c‖ (the point's
    * own norm dropped: cosine argmax is invariant to it). */
  private def centroidScored(spark: SparkSession, dir: String): DataFrame = {
    val cd = labelCentroids(spark, dir)
    val norms = cd.groupBy(col("label").as("c_label"))
      .agg(sum(col("cq") * col("cq")).as("c2"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
      .join(broadcast(cd.select(col("label").as("c_label"), col("pos"),
        col("cq"))), Seq("pos"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum(col("vm") * col("cq")).as("dot"))
      .join(broadcast(norms), Seq("c_label"))
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("c2").cast("double")))
  }

  /** q233 — NEAREST-CENTROID LABEL-NOISE AUDIT (the confident-learning
    * shape, Northcutt et al. — see PAPERS.md): assign every embedding
    * to its nearest label centroid by cosine and report the
    * (given label × predicted label) confusion matrix with per-cell
    * share — off-diagonal mass is the candidate-mislabel set every
    * supervised-filter pipeline reviews before training on the labels
    * (q101 scores cohesion to a point's OWN centroid; this asks the
    * sharper question "is some OTHER label's centroid closer?").
    *
    * Determinism: reuses q223's cached integer centroid table (one
    * micro-quantized (label × dim) profile). The assignment score
    * drops the point's own norm — cosine argmax is invariant to it —
    * so score = Σ vm·cq / ‖c‖ where the dot folds EXACT BIGINTs and
    * only one sqrt + one division are doubles (identical op shapes
    * cross-engine); argmax is a row_number window per vec_id with a
    * label tie-break, never a float-sum comparison.
    *
    * Scale shape: the point×centroid join is n·k·d rows — linear in
    * the corpus with a model-sized (k·d) broadcast side, the standard
    * brute classify matmul; the window partitions by vec_id over k
    * rows each; output folds to the k×k confusion profile. */
  def q233LabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val scored = centroidScored(spark, dir)
    val wPick = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("c_label"))
    val assigned = scored.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("c_label").as("pred_label"))
    val cells = assigned.groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n_vecs"))
    cells
      .withColumn("n_label", sum(col("n_vecs")).over(
        Window.partitionBy("label")))
      .select(col("label"), col("pred_label"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_label").cast("double"), 6)
          .as("share"))
      .orderBy("label", "pred_label")
  }

  /** The exact-rank scaffold q255, q263 and q315 share: the embeddings
    * as micro-quantized BIGINT vectors `emb` (vec_id, label, iv, n2),
    * the 1% query batch `queries` (qid, qlabel, qv), the `corpus` (cid,
    * clabel, cv, cn2), and `ranked`: every (query, other vector) pair
    * with its exact dot, score = dot / ‖c‖ (the query norm dropped,
    * rank-invariant) and per-query rank `rn` (ties on cid). */
  private final case class ExactRank(emb: DataFrame, queries: DataFrame,
      corpus: DataFrame, ranked: DataFrame)

  private def exactRank(spark: SparkSession, dir: String): ExactRank = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), expr(
        "transform(embedding, v -> " +
          "cast(round(cast(v as double) * 1000000, 0) as bigint))")
        .as("iv"))
      .withColumn("n2", expr(
        "aggregate(zip_with(iv, iv, (x, y) -> x * y), " +
          "cast(0 as bigint), (acc, t) -> acc + t)"))
    val queries = onlyQueries(spark, dir, emb)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("iv").as("qv"))
    val corpus = emb.select(col("vec_id").as("cid"),
      col("label").as("clabel"), col("iv").as("cv"), col("n2").as("cn2"))
    val scored = broadcast(queries).crossJoin(corpus)
      .filter(col("qid") =!= col("cid"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), " +
          "cast(0 as bigint), (acc, t) -> acc + t)"))
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("cn2").cast("double")))
    val wRank = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("cid"))
    ExactRank(emb, queries, corpus,
      scored.withColumn("rn", row_number().over(wRank)))
  }

  /** q255 — LABEL-AWARE RETRIEVAL MRR: for the established 1% query
    * batch, the reciprocal rank of the FIRST same-label neighbor under
    * exact cosine ranking, folded per label (mean reciprocal rank,
    * hits@1, hits@10) — the ranking-quality eval the recall contracts
    * (q37/q113/q114) don't express: recall@k asks "is the true
    * neighbor in the pool?", MRR asks "how high does the RIGHT CLASS
    * rank?", the metric that prices an embedding table for
    * retrieval-augmented labeling. Brute ranking is the documented
    * q36-class arm (swap in the ANN paths at corpus scale).
    *
    * Determinism: integer micro-vector dots (the q223/q233
    * discipline), the query's own norm dropped (rank-invariant),
    * ranking ties broken on cid; each query's reciprocal rank is
    * micro-quantized ONCE (round(1e6/r)) so the per-label fold is an
    * exact integer sum. Queries whose label has no other member score
    * 0 (documented: a miss, not an exclusion).
    *
    * Scale shape: query-batch × corpus scoring with per-query
    * WindowGroupLimit-style min-rank folds; output is the |labels|
    * profile. */
  def q255RetrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    val ExactRank(_, queries, _, ranked) = exactRank(spark, dir)
    val firstHit = ranked.filter(col("clabel") === col("qlabel"))
      .groupBy("qid", "qlabel")
      .agg(min(col("rn")).as("first_rank"))
    queries.select("qid", "qlabel")
      .join(firstHit, Seq("qid", "qlabel"), "left")
      .withColumn("rr_micro", coalesce(
        expr("cast(round(1e6 / first_rank, 0) as bigint)"), lit(0L)))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("rr_micro")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("mrr"),
        sum(when(col("first_rank") === 1, 1L).otherwise(0L))
          .as("hits_at_1"),
        sum(when(col("first_rank") <= 10, 1L).otherwise(0L))
          .as("hits_at_10"))
      .orderBy("label")
  }

  /** q263 NDCG depth. */
  private[graft] val NdcgK = 10

  /** Pinned micro-unit DCG discounts 1/log2(r+1), r = 1..[[NdcgK]]
    * (the Benford6/RboW6 discipline — libm log2 is 1-ulp, not
    * correctly rounded, so both engines read the SAME integer
    * literals generated once here). */
  private[graft] val NdcgDisc6: Seq[Long] = (1 to NdcgK).map { r =>
    math.rint(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong
  }

  /** Ideal-DCG micro prefix sums, index m = 0..[[NdcgK]] relevant
    * neighbors available (entry 0 is 0: a query whose label has no
    * other member can score nothing). */
  private[graft] val NdcgIdeal6: Seq[Long] =
    NdcgDisc6.scanLeft(0L)(_ + _)

  /** q315 — MEAN AVERAGE PRECISION @10: the order-sensitive set
    * metric that completes the retrieval-eval triad — q255's MRR
    * rewards the FIRST hit, q263's NDCG applies graded positional
    * discounts; MAP averages precision AT EACH HIT, so it punishes
    * every relevant item pushed down, not just the first. Same
    * label-as-relevance frame, same INT-cosine ranking, per-label
    * report.
    *
    * Exactness: each hit's precision@k = cumhits/rank is a rational
    * of exact integers micro-quantized before the per-query fold
    * (q169 discipline); AP divides by min(R, 10) with R the query's
    * true relevant count (exact); per-query APs micro-quantize again
    * before the per-label mean — no float ever sums across rows. */
  def q315RetrievalMap(spark: SparkSession, dir: String): DataFrame = {
    val ExactRank(_, queries, corpus, ranked) = exactRank(spark, dir)
    val top = ranked.filter(col("rn") <= 10)
    val wHit = Window.partitionBy("qid").orderBy("rn")
    val perQuery = top.filter(col("clabel") === col("qlabel"))
      .withColumn("cumhits", count(lit(1)).over(wHit))
      .withColumn("prec_mu", expr(
        "cast(round(cumhits * 1e6 / rn, 0) as bigint)"))
      .groupBy("qid", "qlabel")
      .agg(sum("prec_mu").as("s_mu"), count(lit(1)).as("n_hits"))
    val labelCounts = corpus.groupBy(col("clabel").as("qlabel"))
      .agg(count(lit(1)).as("n_label"))
    val ap = queries.select("qid", "qlabel")
      .join(broadcast(labelCounts), Seq("qlabel"))
      .join(perQuery, Seq("qid", "qlabel"), "left")
      .withColumn("denom", least(col("n_label") - 1, lit(10L)))
      .withColumn("ap_mu", coalesce(
        expr("cast(round(cast(s_mu as double) / denom, 0) as bigint)"),
        lit(0L)))
    ap.groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("ap_mu")).cast("double") / count(lit(1)) / 1e6, 6)
          .as("map10"),
        round(sum(coalesce(col("n_hits"), lit(0L))).cast("double") /
          count(lit(1)), 4).as("mean_hits_at_10"))
      .orderBy("label")
  }

  /** q263 — exact NDCG@[[NdcgK]] per label over the q255 scaffold:
    * binary relevance (same-label neighbor), exact cosine ranking of
    * the 1% query batch against the corpus, DCG with the pinned
    * [[NdcgDisc6]] discounts, ideal DCG truncated at the label's
    * actually-available neighbor count — the POSITION-WEIGHTED
    * retrieval quality MRR cannot express: MRR only sees the FIRST
    * same-label hit, NDCG scores the whole top-[[NdcgK]] page (a
    * context-assembly window, q170, consumes all of it, so ranking
    * quality BELOW rank 1 prices real retrieval-augmented pipelines).
    *
    * Determinism: integer micro-vector dots, query-norm dropped
    * (rank-invariant), ranking ties on cid; DCG/IDCG are exact
    * integer sums of pinned literals, NDCG is ONE division per query
    * micro-quantized before the per-label fold. Queries with zero
    * same-label neighbors available score 0 (the q255 miss
    * convention).
    *
    * Scale shape: identical to q255 (query-batch × corpus, per-qid
    * rank windows) — swap in the ANN candidate paths at corpus
    * scale; everything after the top-[[NdcgK]] filter runs on
    * ≤ batch·K rows. */
  def q263RetrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val ExactRank(emb, _, _, ranked) = exactRank(spark, dir)
    val discArr = s"array(${NdcgDisc6.mkString("L, ")}L)"
    val dcg = ranked.filter(col("rn") <= NdcgK)
      .groupBy("qid", "qlabel")
      .agg(sum(when(col("clabel") === col("qlabel"),
        expr(s"element_at($discArr, rn)")).otherwise(0L))
        .as("dcg_micro"))
    val labelSizes = emb.groupBy(col("label").as("qlabel"))
      .agg(count(lit(1)).as("n_label"))
    val idealArr = s"array(${NdcgIdeal6.mkString("L, ")}L)"
    dcg.join(broadcast(labelSizes), Seq("qlabel"))
      .withColumn("m", least(lit(NdcgK), col("n_label") - 1).cast("int"))
      .withColumn("idcg_micro", expr(s"element_at($idealArr, m + 1)"))
      .withColumn("ndcg_micro", when(col("idcg_micro") > 0, expr(
        "cast(round(cast(dcg_micro as double) * 1e6 /" +
          " cast(idcg_micro as double), 0) as bigint)")).otherwise(0L))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        round(sum(col("ndcg_micro")).cast("double") / count(lit(1)) / 1e6,
          6).as("ndcg10"),
        sum(when(col("dcg_micro") > 0, 1L).otherwise(0L))
          .as("n_with_hits"))
      .orderBy("label")
  }

  /** q265 — McNEMAR PAIRED TEST between two centroid classifiers on
    * the SAME vectors: the cosine assignment (q233's) vs the
    * unnormalized-dot assignment — the ablation one runs before
    * dropping the norm step from a serving path ("does skipping the
    * norm change accuracy, or only shuffle which items are wrong?").
    * McNemar is THE test for paired classifiers: accuracies alone
    * cannot distinguish 'B flips 100 of A's errors to correct and
    * 100 of its corrects to error' (no accuracy change, b = c = 100)
    * from 'B strictly dominates' — only the disagreement cells b/c
    * carry the signal.
    *
    * Exactness: both picks are windows over the same exact scored
    * table (cosine ties on c_label; the dot pick ranks the exact
    * BIGINT dot itself); all four cells are exact counts, accuracies
    * are single divisions, and the continuity-corrected statistic
    * (|b−c|−1)²/(b+c) is one division of exact integers (NULL when
    * b + c = 0 — no disagreements, no test). Centroid table: the
    * cached [[labelCentroids]]. */
  def q265McnemarPicks(spark: SparkSession, dir: String): DataFrame = {
    val scored = centroidScored(spark, dir)
    val wCos = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("c_label"))
    val wDot = Window.partitionBy("vec_id")
      .orderBy(col("dot").desc, col("c_label"))
    val picks = scored
      .withColumn("rn_cos", row_number().over(wCos))
      .withColumn("rn_dot", row_number().over(wDot))
      .groupBy("vec_id", "label")
      .agg(max(when(col("rn_cos") === 1, col("c_label"))).as("pred_cos"),
        max(when(col("rn_dot") === 1, col("c_label"))).as("pred_dot"))
      .select(
        (col("pred_cos") === col("label")).cast("long").as("ca"),
        (col("pred_dot") === col("label")).cast("long").as("cb"))
    picks.agg(count(lit(1)).as("n_vecs"),
        sum(col("ca") * col("cb")).as("n_both"),
        sum(col("ca") * (lit(1L) - col("cb"))).as("n_cos_only"),
        sum((lit(1L) - col("ca")) * col("cb")).as("n_dot_only"),
        sum((lit(1L) - col("ca")) * (lit(1L) - col("cb"))).as("n_neither"))
      .select(col("n_vecs"), col("n_both"), col("n_cos_only"),
        col("n_dot_only"), col("n_neither"),
        round((col("n_both") + col("n_cos_only")).cast("double") /
          col("n_vecs"), 6).as("acc_cosine"),
        round((col("n_both") + col("n_dot_only")).cast("double") /
          col("n_vecs"), 6).as("acc_dot"),
        when(col("n_cos_only") + col("n_dot_only") > 0, round(
          ((abs(col("n_cos_only") - col("n_dot_only")) - 1) *
            (abs(col("n_cos_only") - col("n_dot_only")) - 1))
            .cast("double") /
            (col("n_cos_only") + col("n_dot_only")).cast("double"), 6))
          .as("mcnemar_chi2"))
  }


  /** q350 — RETRIEVAL EXPOSURE AUDIT over the exact top-k lists:
    * catalog coverage (what fraction of the corpus is ever retrieved)
    * and the exposure Gini (how unequally retrieval slots concentrate
    * on few items) of q36's cached ground-truth lists — the
    * feedback-loop health check run before training on
    * retrieval-sampled data (a coverage-poor, high-Gini retriever
    * starves the corpus tail). Gini uses the q211 sorted-rank
    * identity with never-retrieved items as explicit zeros: ranks of
    * the exposed profile come from [[DistributedRank]] (no global
    * window) and shift by the zero count; zero-exposure items
    * contribute nothing to Σr·x, so only the exposed profile is ever
    * materialized.
    *
    * Scale shape: the top-k table is |queries|·k rows; the exposure
    * profile at most that; one distributed ordinal over it. */
  def q350RetrievalExposure(spark: SparkSession, dir: String): DataFrame = {
    val nVecs = AnnIndex.embCount(spark, dir)
    val expo = Similarity.q36AnnBruteTopK(spark, dir)
      .groupBy("cid").agg(count(lit(1)).as("x"))
    val ranked = DistributedRank.withGlobalRank(expo, "r",
      col("x").asc, col("cid").asc)
    ranked
      .agg(count(lit(1)).as("n_exposed"), sum(col("x")).as("sx"),
        sum(col("r") * col("x")).as("srx"))
      .select(lit(nVecs).as("n_corpus"), col("n_exposed"),
        // an empty corpus has no coverage: NULL, as the oracle's 0 / 0
        round(when(lit(nVecs) > 0, col("n_exposed").cast("double") / nVecs), 6)
          .as("coverage"),
        col("sx").as("total_slots"),
        // Σ rank·x over ALL items = srx + zero_count·sx (every exposed
        // rank shifts past the zeros); Gini = (2Σrx − (n+1)Σx)/(nΣx)
        round((lit(2L) * (col("srx") + (lit(nVecs) - col("n_exposed")) *
            col("sx")) - lit(nVecs + 1L) * col("sx")).cast("double") /
          (lit(nVecs).cast("double") * col("sx").cast("double")), 6)
          .as("exposure_gini"))
  }

  /** q36's exact brute top-10 lists as oracle CTE text (verbatim the
    * q36 oracle derivation) for q350. */
  private def bruteTopCtes: String =
    s"""$QselCte,
      |bex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |bnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
      |           FROM bex GROUP BY 1),
      |bdots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.x * b.x) AS dot
      |  FROM bex a JOIN bex b ON a.i = b.i
      |                       AND a.vec_id IN (SELECT vec_id FROM qsel)
      |                       AND a.vec_id <> b.vec_id
      |  GROUP BY 1, 2),
      |bscored AS (
      |  SELECT qid, cid,
      |         round(dot / (n1.nrm * n2.nrm), 6) AS cosine
      |  FROM bdots
      |  JOIN bnorms n1 ON n1.vec_id = qid
      |  JOIN bnorms n2 ON n2.vec_id = cid),
      |branked AS (
      |  SELECT qid, cid,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY cosine DESC, cid ASC) AS rank
      |  FROM bscored),
      |btop AS (SELECT qid, cid FROM branked WHERE rank <= 10)"""
      .stripMargin

  // ---------------------------------------------------------------- q386

  /** q386 — SIMPLIFIED SILHOUETTE (centroid-based, Hruschka et al. —
    * the O(N·k) member of the silhouette family): per vector, cohesion
    * a = 1 − cos(v, own centroid) vs separation b = 1 − max cos to any
    * OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1]; negative s means
    * some other label's centroid is CLOSER — the per-label roll-up of
    * exactly the vectors q233's confusion matrix counts cell-by-cell.
    * This is the cluster-quality gate run before trusting labels as
    * retrieval filters (q223 asks "are centroids separated?"; this
    * asks "do the POINTS agree?"). Full silhouette is O(N²) pairwise —
    * a non-starter at corpus scale; the simplified form needs one
    * point×centroid join (n·k·d rows, model-sized broadcast — the
    * standard brute-classify matmul, linear in the corpus).
    *
    * Determinism: all folds over exact micro-quantized BIGINTs (the
    * shared [[AnnRetrieval.labelCentroids]] profile + per-vector Σvm²);
    * doubles appear only in the final per-(vec, centroid) cosine —
    * identical op shapes cross-engine — and every per-vector s is
    * micro-quantized BEFORE the per-label mean folds (a raw double sum
    * across rows would be merge-order-dependent). */
  def q386SimplifiedSilhouette(spark: SparkSession,
      dir: String): DataFrame = {
    val cd = AnnRetrieval.labelCentroids(spark, dir)
    val cNorms = cd.groupBy(col("label").as("c_label"))
      .agg(sum(col("cq") * col("cq")).as("c2"))
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
    val v2 = pts.groupBy("vec_id").agg(sum(col("vm") * col("vm")).as("v2"))
    val dots = pts
      .join(broadcast(cd.select(col("label").as("c_label"), col("pos"),
        col("cq"))), Seq("pos"))
      .groupBy("vec_id", "label", "c_label")
      .agg(sum(col("vm") * col("cq")).as("dot"))
    val scored = dots
      .join(broadcast(cNorms), Seq("c_label"))
      .join(v2, Seq("vec_id"))
      // zero-norm guard (mirrors q387's scale_m > 0): an all-zero
      // embedding would make cos = 0/0 = NaN, which Spark's non-ANSI
      // bigint cast silently zeroes while DuckDB errors — filter the
      // (non-occurring but possible) zero vectors out on BOTH sides
      .filter(col("v2") > 0)
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("v2").cast("double")) * sqrt(col("c2").cast("double"))))
    val per = scored.groupBy("vec_id", "label")
      .agg(max(when(col("c_label") === col("label"), col("cos")))
          .as("cos_own"),
        max(when(col("c_label") =!= col("label"), col("cos")))
          .as("cos_other"))
      .withColumn("s_u", expr(
        "cast(round(case when 1 - least(cos_own, cos_other) <> 0" +
          " then (cos_own - cos_other)" +
          " / (1 - least(cos_own, cos_other)) end * 1e6, 0) as bigint)"))
    per.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("round(cast(sum(s_u) as double) / count(*) / 1e6, 6)")
          .as("mean_sil"),
        expr("sum(case when s_u < 0 then 1 else 0 end) * 1000000" +
          " div count(*)").as("neg_ppm"),
        expr("round(min(s_u) / 1e6, 6)").as("worst_sil"))
      .orderBy("label")
  }

  /** Every embedding coordinate as exact BIGINT micro-units, `ex`
    * (vec_id, label, pos, vm): the first CTE of the q255/q263/q315
    * exact-rank chain, the q233/q265 centroid chain and q386. */
  private val microCoordsCte: String =
    """ex AS (
      |  SELECT vec_id, label, i AS pos,
      |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
      |              AS BIGINT) AS vm
      |  FROM (SELECT vec_id, label, embedding,
      |               unnest(generate_series(1, len(embedding))) AS i
      |        FROM embeddings))""".stripMargin

  /** [[exactRank]] as oracle CTEs: `ranked` (qid, cid, rn) over the
    * query batch `qsel`, with `labels` (vec_id, label) to join. */
  private val exactRankCtes: String =
    s"""$QselCte,
      |$microCoordsCte,
      |n2 AS (SELECT vec_id, CAST(sum(vm * vm) AS BIGINT) AS nn
      |       FROM ex GROUP BY 1),
      |labels AS (SELECT DISTINCT vec_id, label FROM ex),
      |dots AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         CAST(sum(qe.vm * ce.vm) AS BIGINT) AS dot
      |  FROM labels q JOIN labels c
      |    ON q.vec_id IN (SELECT vec_id FROM qsel)
      |   AND c.vec_id <> q.vec_id
      |  JOIN ex qe ON qe.vec_id = q.vec_id
      |  JOIN ex ce ON ce.vec_id = c.vec_id AND ce.pos = qe.pos
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT d.qid, d.cid,
      |         row_number() OVER (PARTITION BY d.qid
      |           ORDER BY CAST(d.dot AS DOUBLE)
      |             / sqrt(CAST(n.nn AS DOUBLE)) DESC, d.cid) AS rn
      |  FROM dots d JOIN n2 n ON n.vec_id = d.cid)""".stripMargin

  /** [[centroidScored]] up to its exact dots as oracle CTEs: the
    * centroids `cq` (c_label, pos, cqv), their squared norms `norms`
    * (c_label, c2) and `dots` (vec_id, label, c_label, dot). */
  private val centroidDotsCtes: String =
    s"""$microCoordsCte,
      |cd AS (
      |  SELECT label, pos, count(*) AS n, CAST(sum(vm) AS BIGINT) AS s
      |  FROM ex GROUP BY 1, 2),
      |cq AS (
      |  SELECT label AS c_label, pos,
      |         CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) AS cqv
      |  FROM cd),
      |norms AS (
      |  SELECT c_label, CAST(sum(cqv * cqv) AS BIGINT) AS c2
      |  FROM cq GROUP BY 1),
      |dots AS (
      |  SELECT e.vec_id, e.label, c.c_label,
      |         CAST(sum(e.vm * c.cqv) AS BIGINT) AS dot
      |  FROM ex e JOIN cq c ON e.pos = c.pos
      |  GROUP BY 1, 2, 3)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q263_retrieval_ndcg", q263RetrievalNdcg _,
      {
      val discList = s"[${NdcgDisc6.mkString(", ")}]"
      val idealList = s"[${NdcgIdeal6.mkString(", ")}]"
      s"""WITH $exactRankCtes,
        |dcg AS (
        |  SELECT t.qid, ql.label,
        |         CAST(sum(CASE WHEN cl.label = ql.label
        |           THEN $discList[t.rn] ELSE 0 END) AS BIGINT)
        |           AS dcg_micro
        |  FROM ranked t
        |  JOIN labels ql ON ql.vec_id = t.qid
        |  JOIN labels cl ON cl.vec_id = t.cid
        |  WHERE t.rn <= $NdcgK
        |  GROUP BY 1, 2),
        |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
        |          FROM labels GROUP BY 1),
        |perq AS (
        |  SELECT d.label, d.dcg_micro,
        |         $idealList[CAST(least($NdcgK, s.n_label - 1) + 1
        |           AS INTEGER)] AS idcg_micro
        |  FROM dcg d JOIN sizes s ON s.label = d.label),
        |scoredq AS (
        |  SELECT label, dcg_micro,
        |         CASE WHEN idcg_micro > 0
        |              THEN CAST(round(CAST(dcg_micro AS DOUBLE) * 1e6 /
        |                CAST(idcg_micro AS DOUBLE), 0) AS BIGINT)
        |              ELSE 0 END AS ndcg_micro
        |  FROM perq)
        |SELECT label, count(*) AS n_queries,
        |       round(CAST(CAST(sum(ndcg_micro) AS BIGINT) AS DOUBLE)
        |             / count(*) / 1e6, 6) AS ndcg10,
        |       CAST(count(*) FILTER (WHERE dcg_micro > 0) AS BIGINT)
        |         AS n_with_hits
        |FROM scoredq GROUP BY 1 ORDER BY label""".stripMargin
    }),
    QueryDef("q265_mcnemar_picks", q265McnemarPicks _,
      s"""WITH $centroidDotsCtes,
        |scored AS (
        |  SELECT d.vec_id, d.label, d.c_label, d.dot,
        |         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.c2 AS DOUBLE)) AS score
        |  FROM dots d JOIN norms n ON d.c_label = n.c_label),
        |picks AS (
        |  SELECT vec_id, label,
        |         max(CASE WHEN rn_cos = 1 THEN c_label END) AS pred_cos,
        |         max(CASE WHEN rn_dot = 1 THEN c_label END) AS pred_dot
        |  FROM (SELECT vec_id, label, c_label,
        |               row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY score DESC, c_label) AS rn_cos,
        |               row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY dot DESC, c_label) AS rn_dot
        |        FROM scored)
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(sum(ca * cb) AS BIGINT) AS n_both,
        |         CAST(sum(ca * (1 - cb)) AS BIGINT) AS n_cos_only,
        |         CAST(sum((1 - ca) * cb) AS BIGINT) AS n_dot_only,
        |         CAST(sum((1 - ca) * (1 - cb)) AS BIGINT) AS n_neither
        |  FROM (SELECT CASE WHEN pred_cos = label THEN 1 ELSE 0 END AS ca,
        |               CASE WHEN pred_dot = label THEN 1 ELSE 0 END AS cb
        |        FROM picks))
        |SELECT n_vecs, n_both, n_cos_only, n_dot_only, n_neither,
        |       round(CAST(n_both + n_cos_only AS DOUBLE) / n_vecs, 6)
        |         AS acc_cosine,
        |       round(CAST(n_both + n_dot_only AS DOUBLE) / n_vecs, 6)
        |         AS acc_dot,
        |       CASE WHEN n_cos_only + n_dot_only > 0 THEN
        |         round(CAST((abs(n_cos_only - n_dot_only) - 1) *
        |                    (abs(n_cos_only - n_dot_only) - 1) AS DOUBLE) /
        |               CAST(n_cos_only + n_dot_only AS DOUBLE), 6)
        |       END AS mcnemar_chi2
        |FROM cells""".stripMargin),
    QueryDef("q315_retrieval_map", q315RetrievalMap _,
      s"""WITH $exactRankCtes,
        |top AS (SELECT qid, cid, rn FROM ranked WHERE rn <= 10),
        |hits AS (
        |  SELECT t.qid, ql.label AS qlabel, t.rn,
        |         CAST(count(*) OVER (PARTITION BY t.qid ORDER BY t.rn)
        |           AS BIGINT) AS cumhits
        |  FROM top t
        |  JOIN labels cl ON cl.vec_id = t.cid
        |  JOIN labels ql ON ql.vec_id = t.qid
        |  WHERE cl.label = ql.label),
        |perq AS (
        |  SELECT qid, qlabel,
        |         CAST(sum(CAST(round(cumhits * 1e6 / rn, 0) AS BIGINT))
        |           AS BIGINT) AS s_mu,
        |         CAST(count(*) AS BIGINT) AS n_hits
        |  FROM hits GROUP BY 1, 2),
        |lc AS (SELECT label AS qlabel, CAST(count(*) AS BIGINT) AS n_label
        |       FROM labels GROUP BY 1),
        |ap AS (
        |  SELECT q.label AS qlabel,
        |         COALESCE(CAST(round(CAST(p.s_mu AS DOUBLE)
        |             / least(l.n_label - 1, 10), 0) AS BIGINT), 0)
        |           AS ap_mu,
        |         COALESCE(p.n_hits, 0) AS n_hits
        |  FROM labels q
        |  JOIN lc l ON l.qlabel = q.label
        |  LEFT JOIN perq p ON p.qid = q.vec_id
        |  WHERE q.vec_id IN (SELECT vec_id FROM qsel))
        |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
        |       round(CAST(sum(ap_mu) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS map10,
        |       round(CAST(sum(n_hits) AS DOUBLE) / count(*), 4)
        |         AS mean_hits_at_10
        |FROM ap GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q255_retrieval_mrr", q255RetrievalMrr _,
      s"""WITH $exactRankCtes,
        |first_hit AS (
        |  SELECT r.qid, min(r.rn) AS first_rank
        |  FROM ranked r
        |  JOIN labels ql ON ql.vec_id = r.qid
        |  JOIN labels cl ON cl.vec_id = r.cid
        |  WHERE cl.label = ql.label
        |  GROUP BY 1),
        |per_q AS (
        |  SELECT ql.label,
        |         COALESCE(CAST(round(1e6 / f.first_rank, 0) AS BIGINT), 0)
        |           AS rr_micro,
        |         f.first_rank
        |  FROM labels ql LEFT JOIN first_hit f ON f.qid = ql.vec_id
        |  WHERE ql.vec_id IN (SELECT vec_id FROM qsel))
        |SELECT label, count(*) AS n_queries,
        |       round(CAST(CAST(sum(rr_micro) AS BIGINT) AS DOUBLE)
        |             / count(*) / 1e6, 6) AS mrr,
        |       CAST(count(*) FILTER (WHERE first_rank = 1) AS BIGINT)
        |         AS hits_at_1,
        |       CAST(count(*) FILTER (WHERE first_rank <= 10) AS BIGINT)
        |         AS hits_at_10
        |FROM per_q GROUP BY 1 ORDER BY label""".stripMargin),
    QueryDef("q233_label_noise", q233LabelNoise _,
      s"""WITH $centroidDotsCtes,
        |scored AS (
        |  SELECT d.vec_id, d.label, d.c_label,
        |         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.c2 AS DOUBLE)) AS score
        |  FROM dots d JOIN norms n ON d.c_label = n.c_label),
        |assigned AS (
        |  SELECT vec_id, label, c_label AS pred_label
        |  FROM (SELECT vec_id, label, c_label,
        |               row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY score DESC, c_label) AS rn
        |        FROM scored)
        |  WHERE rn = 1),
        |cells AS (
        |  SELECT label, pred_label, count(*) AS n_vecs
        |  FROM assigned GROUP BY 1, 2)
        |SELECT label, pred_label, n_vecs,
        |       round(CAST(n_vecs AS DOUBLE) /
        |             CAST(sum(n_vecs) OVER (PARTITION BY label) AS DOUBLE), 6)
        |         AS share
        |FROM cells ORDER BY label, pred_label""".stripMargin),
    QueryDef("q223_centroid_separation", q223CentroidSeparation _,
      """WITH ex AS (
        |  SELECT label, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS vm
        |  FROM (SELECT label, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |cd AS (
        |  SELECT label, pos, count(*) AS n,
        |         CAST(sum(vm) AS BIGINT) AS s
        |  FROM ex GROUP BY 1, 2),
        |cq AS (
        |  SELECT label, pos, n,
        |         CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT) AS cqv
        |  FROM cd),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |         a.n AS na, b.n AS nb,
        |         a.cqv AS ca, b.cqv AS cb
        |  FROM cq a JOIN cq b ON a.pos = b.pos AND a.label < b.label),
        |agg AS (
        |  SELECT label_a, label_b,
        |         CAST(max(na) AS BIGINT) AS n_a,
        |         CAST(max(nb) AS BIGINT) AS n_b,
        |         CAST(sum(ca * cb) AS BIGINT) AS dot,
        |         CAST(sum(ca * ca) AS BIGINT) AS na2,
        |         CAST(sum(cb * cb) AS BIGINT) AS nb2
        |  FROM p GROUP BY 1, 2)
        |SELECT label_a, label_b, n_a, n_b,
        |       round(CAST(dot AS DOUBLE) /
        |             (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))),
        |             6) AS cos_sim
        |FROM agg ORDER BY label_a, label_b""".stripMargin),
    QueryDef("q170_context_assembly", q170ContextAssembly _,
      s"""WITH ${Similarity.bruteDotsCtes},
         |scored AS (
         |  SELECT qid, cid, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
         |  FROM dots
         |  JOIN norms n1 ON n1.vec_id = qid
         |  JOIN norms n2 ON n2.vec_id = cid),
         |top AS (
         |  SELECT qid, cid AS doc_id,
         |         CAST(row_number() OVER (PARTITION BY qid
         |                ORDER BY cosine DESC, cid ASC) AS INT) AS rank
         |  FROM scored
         |  QUALIFY rank <= $CtxTopDocs),
         |chunks AS (
         |  SELECT t.qid, t.rank, t.doc_id,
         |         CAST(row_number() OVER (PARTITION BY t.qid, t.doc_id
         |                ORDER BY p) - 1 AS INT) AS chunk_ix,
         |         CAST(p AS INT) AS start_pos,
         |         CAST(len(string_split(trim(substr(d.text, CAST(p AS INT),
         |                $CtxWin)), ' ')) AS INT) AS n_tokens,
         |         md5(substr(d.text, CAST(p AS INT), $CtxWin)) AS chunk_md5
         |  FROM top t
         |  JOIN documents d USING (doc_id)
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(generate_series(1, greatest(length(d.text), 1),
         |                                  $CtxStride)) AS p)),
         |deduped AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid, chunk_md5
         |              ORDER BY rank, chunk_ix) AS dup_rn
         |  FROM chunks QUALIFY dup_rn = 1),
         |packed AS (
         |  SELECT qid, rank, doc_id, chunk_ix, start_pos, n_tokens,
         |         CAST(sum(n_tokens) OVER (PARTITION BY qid
         |                ORDER BY rank, chunk_ix
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |         chunk_md5
         |  FROM deduped)
         |SELECT * FROM packed WHERE cum_tokens <= $CtxTokenBudget
         |ORDER BY qid, rank, chunk_ix""".stripMargin),
    QueryDef("q107_semantic_dedup", q107SemanticDedup _,
      """SELECT count(*) AS n_vectors, TRUE AS drops_witnessed,
        |       TRUE AS subset_recall_ok
        |FROM embeddings""".stripMargin),
    QueryDef("q101_centroid_eval", q101CentroidEval _,
      """WITH ex AS (
        |  SELECT label, vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |cent AS (SELECT label, pos, avg(v) AS c FROM ex GROUP BY 1, 2),
        |dots AS (
        |  SELECT e.label, e.vec_id, sum(e.v * c.c) AS dot,
        |         sqrt(sum(e.v * e.v)) AS nv, sqrt(sum(c.c * c.c)) AS nc
        |  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
        |  GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(dot / (nv * nc)), 4) AS avg_cosine_to_centroid
        |FROM dots GROUP BY 1 ORDER BY 1""".stripMargin),
    // lexical arm = q96's oracle CTEs verbatim; dense arm = q36's
    // unnest/norm/dot CTEs specialized to query vector 0; RRF in
    // explicit DOUBLE so DuckDB's DECIMAL literals can't diverge
    QueryDef("q120_hybrid_rrf", q120HybridRrf _,
      s"""WITH ${TextOps.bm25Ctes},
        |lex AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
        |           AS lex_rank
        |  FROM (SELECT doc_id, bm25 FROM scored
        |        ORDER BY bm25 DESC, doc_id LIMIT 20)),
        |ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
        |dots AS (
        |  SELECT b.vec_id AS doc_id, sum(a.x * b.x) AS dot
        |  FROM ex a JOIN ex b ON a.i = b.i
        |                      AND a.vec_id = 0 AND b.vec_id <> 0
        |  GROUP BY 1),
        |vscored AS (
        |  SELECT d.doc_id, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |  FROM dots d
        |  JOIN norms n1 ON n1.vec_id = 0
        |  JOIN norms n2 ON n2.vec_id = d.doc_id),
        |vec AS (
        |  SELECT doc_id,
        |         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
        |           AS vec_rank
        |  FROM (SELECT doc_id, cosine FROM vscored
        |        ORDER BY cosine DESC, doc_id LIMIT 20)),
        |fused AS (
        |  SELECT doc_id,
        |         round(coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank),
        |                        CAST(0.0 AS DOUBLE))
        |             + coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + vec_rank),
        |                        CAST(0.0 AS DOUBLE)), 6) AS rrf,
        |         lex_rank, vec_rank
        |  FROM lex FULL OUTER JOIN vec USING (doc_id))
        |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
        |         AS rank,
        |       doc_id, rrf, lex_rank, vec_rank
        |FROM (SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 10)
        |ORDER BY rank""".stripMargin),
    QueryDef("q129_ann_truncated", q129AnnTruncated _,
      s"""WITH $QselCte
        |SELECT count(*) AS n_queries, TRUE AS avg_recall_ok
        |FROM qsel""".stripMargin),
    // q36's exact-ranking CTEs provide the positive + the top-10
    // exclusion set; the negative draw is the same portable md5
    // priority race both engines compute bit-identically
    QueryDef("q131_negative_sampling", q131NegativeSampling _,
      s"""WITH ${Similarity.bruteDotsCtes},
        |scored AS (
        |  SELECT qid, cid,
        |         round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |  FROM dots
        |  JOIN norms n1 ON n1.vec_id = qid
        |  JOIN norms n2 ON n2.vec_id = cid),
        |ranked AS (
        |  SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY cosine DESC, cid ASC) AS rank
        |  FROM scored),
        |top10 AS (SELECT qid, cid FROM ranked WHERE rank <= 10),
        |pos AS (SELECT qid, cid AS pos_id FROM ranked WHERE rank = 1),
        |cand AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         ('0x' || substr(md5('neg:' || CAST(q.vec_id AS VARCHAR)
        |                          || ':' || CAST(c.vec_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS pri
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id IN (SELECT vec_id FROM qsel)
        |   AND c.vec_id <> q.vec_id
        |  WHERE NOT EXISTS (SELECT 1 FROM top10 t
        |                    WHERE t.qid = q.vec_id AND t.cid = c.vec_id)),
        |negs AS (
        |  SELECT qid, cid,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY pri, cid) AS INT)
        |           AS neg_rank
        |  FROM cand)
        |SELECT n.qid, p.pos_id, n.neg_rank, n.cid AS neg_id
        |FROM negs n JOIN pos p USING (qid)
        |WHERE n.neg_rank <= $NegK ORDER BY qid, neg_rank""".stripMargin),
    QueryDef("q350_retrieval_exposure", q350RetrievalExposure _,
      s"""WITH $bruteTopCtes,
        |expo AS (SELECT cid, CAST(count(*) AS BIGINT) AS x
        |         FROM btop GROUP BY 1),
        |rk AS (SELECT cid, x,
        |              row_number() OVER (ORDER BY x, cid) AS r
        |       FROM expo),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_exposed,
        |               CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(r * x) AS BIGINT) AS srx
        |        FROM rk),
        |nn AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(nn.n AS BIGINT) AS n_corpus, a.n_exposed,
        |       round(CAST(a.n_exposed AS DOUBLE) / nn.n, 6) AS coverage,
        |       a.sx AS total_slots,
        |       round(CAST(2 * (a.srx + (nn.n - a.n_exposed) * a.sx)
        |                  - (nn.n + 1) * a.sx AS DOUBLE)
        |             / (CAST(nn.n AS DOUBLE) * CAST(a.sx AS DOUBLE)), 6)
        |         AS exposure_gini
        |FROM agg a, nn""".stripMargin),
    QueryDef("q386_simplified_silhouette", q386SimplifiedSilhouette _,
      s"""WITH $microCoordsCte,
        |cd AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(vm) AS BIGINT) AS s
        |       FROM ex GROUP BY 1, 2),
        |cq AS (SELECT label AS c_label, pos,
        |              CAST(round(CAST(s AS DOUBLE) / n, 0) AS BIGINT)
        |                AS cq
        |       FROM cd),
        |c2 AS (SELECT c_label, CAST(sum(cq * cq) AS BIGINT) AS c2
        |       FROM cq GROUP BY 1),
        |v2 AS (SELECT vec_id, CAST(sum(vm * vm) AS BIGINT) AS v2
        |       FROM ex GROUP BY 1),
        |dots AS (
        |  SELECT e.vec_id, e.label, q.c_label,
        |         CAST(sum(e.vm * q.cq) AS BIGINT) AS dot
        |  FROM ex e JOIN cq q ON q.pos = e.pos
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT d.vec_id, d.label, d.c_label,
        |         CAST(d.dot AS DOUBLE) / (sqrt(CAST(v.v2 AS DOUBLE))
        |           * sqrt(CAST(c.c2 AS DOUBLE))) AS cos
        |  FROM dots d JOIN v2 v USING (vec_id) JOIN c2 c
        |    USING (c_label)
        |  WHERE v.v2 > 0),
        |per AS (
        |  SELECT vec_id, label,
        |         max(CASE WHEN c_label = label THEN cos END) AS cos_own,
        |         max(CASE WHEN c_label <> label THEN cos END)
        |           AS cos_other
        |  FROM sc GROUP BY 1, 2),
        |su AS (
        |  SELECT label,
        |         CAST(round(CASE WHEN 1 - least(cos_own, cos_other)
        |                <> 0
        |              THEN (cos_own - cos_other)
        |                / (1 - least(cos_own, cos_other)) END * 1e6, 0)
        |              AS BIGINT) AS s_u
        |  FROM per)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(s_u) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_sil,
        |       CAST(sum(CASE WHEN s_u < 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) * 1000000
        |         // CAST(count(*) AS BIGINT) AS neg_ppm,
        |       round(min(s_u) / 1e6, 6) AS worst_sil
        |FROM su GROUP BY label ORDER BY label""".stripMargin))
}
