package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables
import Similarity.{QselCte, TopK, onlyQueries, queryVecs, corpusVecs, simCol,
  avgRecallContract, embeddingDim}

/** [EXT] index-backed ANN (split from [[Similarity]], VERDICT r04 #6):
  * the IVF coarse quantizer and its search (q52), product quantization
  * with ADC serving (q113), and the composed IVF+PQ production layout
  * (q114). The exact brute-force ground truth, the LSH variant, and
  * the shared recall contracts live in [[Similarity]].
  *
  * Also here: the int8 scalar-quantization audit (q387).
  */
object AnnIndex {


  /** Lloyd iterations refining the IVF coarse quantizer (spherical
    * k-means, DataFrame-only). Seeds are a deterministic ~sqrt(N)-cell
    * stride sample; each iteration assigns every vector to its
    * max-cosine centroid (one broadcast of the small centroid set) and
    * recomputes per-cell means per dimension. The mean is computed as an EXACT
    * integer sum of micro-quantized components (x*1e6 -> BIGINT) divided
    * once — partition-order-independent, so the centroids (and the q52
    * recall contract downstream) are bit-deterministic; a plain FP avg
    * would drift with shuffle order. Cells that lose all members drop
    * out (dead-centroid pruning). At 100 TB this trains on a sample and
    * assigns the full corpus with one broadcast — the standard IVF
    * build. */
  private val IvfLloydIters = 2

  private val centSimCol =
    round(expr("graft_dot(embedding, cemb)") / (col("nrm") * col("cnrm")), 6)

  /** Top-n centroid cells per vector, NARROW: vectors x centroids are
    * scored map-side (broadcast centroids), but only
    * (vec_id, cent_id, cent_sim) crosses the shuffle — never the
    * embedding arrays, which re-attach by a vec_id join afterwards. The
    * r04 10x study caught the wide variant shuffling ~1 KB rows through
    * the ranking window (both arrays in every row: 23x wall-clock at
    * 10x data); n=1 additionally skips the window entirely — one
    * max_by aggregation with the same (sim DESC, cent_id ASC)
    * tie-break. `vecs` must carry (vec_id, embedding, nrm). */
  private[operators] def nearestCells(vecs: DataFrame, centroids: DataFrame, n: Int,
      rankCol: String): DataFrame = {
    val scored = vecs.crossJoin(broadcast(centroids))
      .withColumn("cent_sim", centSimCol)
      .select(col("vec_id"), col("cent_id"), col("cent_sim"))
    val picked =
      if (n == 1)
        scored.groupBy("vec_id")
          .agg(max_by(col("cent_id"),
            struct(col("cent_sim"), (-col("cent_id")).as("tb")))
            .as("cent_id"))
          .withColumn(rankCol, lit(1))
      else {
        val w = Window.partitionBy("vec_id")
          .orderBy(desc("cent_sim"), asc("cent_id"))
        scored.withColumn(rankCol, row_number().over(w))
          .filter(col(rankCol) <= n)
          .select(col("vec_id"), col("cent_id"), col(rankCol))
      }
    picked.join(vecs, Seq("vec_id"))
  }

  /** The embeddings as (vec_id, embedding, nrm): the input every IVF
    * build, assignment and probe reads. */
  private[operators] def normedVecs(spark: SparkSession,
      dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), DedupEmbedding.normExpr.as("nrm"))

  /** Corpus size, cached per (session, dir): the IVF, PQ, MMR and
    * embedding-LSH sizing all read it. */
  private[graft] def embCount(spark: SparkSession, dir: String): Long =
    graft.sources.DfCache.value(spark, s"emb_count|$dir")(
      Tables.embeddings(spark, dir).count())

  /** Cell count of the cached IVF quantizer: q52/q114 size their probe
    * width from it, q133 reports it, and the ProbeSweep dev tool
    * reports probe FRACTION with it. */
  private[graft] def ivfCellCount(spark: SparkSession, dir: String): Long =
    graft.sources.DfCache.value(spark, s"ivf_ncells|$dir")(
      ivfCentroids(spark, dir).count())

  /** The full-corpus IVF quantizer, cached per (session, dir) and
    * shared by q52, q107, q114 and q133. */
  private[operators] def ivfCentroids(spark: SparkSession,
      dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"ivf_centroids|$dir")(
      lloydCentroids(normedVecs(spark, dir), embCount(spark, dir)))

  /** Lloyd-trained centroids (cent_id, cemb, cnrm) over `all`, a
    * (vec_id, embedding, nrm) frame of `n` rows. */
  private[operators] def lloydCentroids(all: DataFrame, n: Long): DataFrame = {
    // cells ~ sqrt(N) — THE standard IVF sizing. Cells growing
    // linearly with the corpus (the old fixed every-43rd stride)
    // makes assignment O(N x cells) = O(N^2/43): the r04 10x study
    // measured 18x wall-clock at 10x data. sqrt sizing keeps the
    // build O(N^1.5) and balances cell size (~sqrt(N) members) vs
    // probe count at any corpus size.
    val targetCells = math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong)
    val stride = math.max(1L, n / targetCells)
    var cent = all.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("cemb"),
        col("nrm").as("cnrm"))
    for (_ <- 1 to IvfLloydIters) {
      val assigned = nearestCells(all, cent, 1, "crank")
        .select(col("cent_id").as("cell"), col("embedding"))
      cent = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg((sum((col("v").cast("double") * 1e6).cast("bigint"))
          .cast("double") / count(lit(1)) / 1e6).as("c"))
        .groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cemb"))
        .select(col("cell").as("cent_id"), col("cemb"),
          sqrt(expr("graft_dot(cemb, cemb)")).as("cnrm"))
    }
    cent
  }

  /** Probe-width policy, shared by q52 (IVF) and q114 (IVF+PQ):
    * `nprobe = clamp(scale * log2(cells), floor, cells)` — LOGARITHMIC
    * in the cell count, never a linear fraction of it. The r04 policy
    * (1/3 and 2/3 of ALL cells) kept recall flat but meant every query
    * scanned a linear fraction of its own index at every scale — the
    * exact property an inverted file exists to avoid. A slowly-growing
    * probe width is how production IVF serves: per-query candidate work
    * is O((N/cells) * nprobe * M) = O(sqrt(N) * log(cells) * M) with
    * sqrt-sized cells, and the starvation risk a growing corpus poses
    * to any capped policy is monitored by ProbeSweep's default-width
    * recall audit (plus its width curve in docs/SCALE.md: on this
    * weakly-clustered synthetic corpus, recall rises roughly linearly
    * with probe fraction, so the measured operating points below are
    * chosen to clear the contract floors with margin at every tested
    * scale — sf0.001/0.01/0.1 and the 10x pseudo-sf1 copy). */
  private[graft] def ivfNprobe(nCells: Long, scale: Double, floor: Int): Int = {
    val log2 = math.log(nCells.toDouble.max(2.0)) / math.log(2.0)
    math.min(nCells, math.max(floor.toLong, math.round(scale * log2))).toInt
  }

  /** Measured operating points (ProbeSweep, docs/SCALE.md): IVF probes
    * 3*log2(cells) cells — 24 cells -> 14 (avg recall 0.86-0.94),
    * 46 -> 17 (0.785), 100 -> 20 at pseudo-sf1 (1.0); 20% of the index
    * at 10x where the old 1/3 policy scanned 33% at every scale.
    * IVF+PQ probes 4*log2(cells) (the composed layout stacks
    * quantization error on cell-boundary error, and its code rows are
    * 64x cheaper to scan, so the wider width is the cheap recall knob):
    * 24 -> 18 (0.78-0.88), 46 -> 22 (0.585), 100 -> 27 (0.855). The
    * sweep's sharpest lesson: probing MORE actively hurts IVF+PQ at
    * scale — full-probe at pseudo-sf1 measured 0.495 vs 0.855 capped,
    * because extra far-cell candidates carry quantization noise that
    * crowds true neighbors out of the fixed-width ADC shortlist. */
  private[operators] val IvfProbeScale = 3.0
  private val IvfPqProbeScale = 4.0
  private[operators] val ProbeFloor = 4

  /** q52 — IVF-style ANN top-k (no SQL oracle; recall vs q36 asserted in
    * ScalaTest). Coarse quantizer = [[ivfCentroids]] (Lloyd-refined
    * spherical k-means from deterministic seeds); every vector is
    * assigned to its nearest centroid cell (one broadcast of the small
    * centroid set, no corpus shuffle beyond the cell key), queries probe
    * their [[ivfNprobe]] nearest cells (logarithmic in the cell count)
    * and score only those cells' members.
    * This is the inverted-file layout: at 100 TB the corpus is written
    * bucketed by cell id, so a query reads only its probed cells'
    * files. */
  def ivfTopK(spark: SparkSession, dir: String,
      nprobeOverride: Option[Int] = None): DataFrame = {
    val all = normedVecs(spark, dir)
    val centroids = ivfCentroids(spark, dir)
    val nprobe = nprobeOverride.getOrElse(
      ivfNprobe(ivfCellCount(spark, dir), IvfProbeScale, ProbeFloor))
    val assigned = nearestCells(all, centroids, 1, "crank")
      .select(col("vec_id").as("cid"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("cent_id").as("cell"))
    val probes = nearestCells(
      onlyQueries(spark, dir, all), centroids, nprobe,
      "prank")
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
    probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simCol)
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  // ---- q113: product-quantization ANN (ADC shortlist + exact re-rank) --

  /** PQ geometry: M subspaces x K codes. M * log2(K) = 32 bits per
    * vector — a 64-dim float vector (256 B) compresses 64x, which is
    * the point of PQ at 100 TB: the CODES table fits in memory/fast
    * storage where the raw vectors cannot, and ADC scans codes only. */
  private val PqM = 8
  private val PqK = 16
  private val PqLloydIters = 2

  /** ADC shortlist size: approximate distances pick [[PqShortlist]]
    * candidates per query, exact re-rank keeps [[TopK]] — the standard
    * two-stage PQ serving layout (approximate scan wide, exact narrow).
    * 10x TopK absorbs the quantization error of 32-bit codes; the
    * re-rank cost stays O(Q x PqShortlist) raw-vector reads. */
  private val PqShortlist = 100

  /** (vec_id, sub, svec) subvectors: subspace `sub` covers dims
    * [sub*subDim, (sub+1)*subDim). One explode per vector — M narrow
    * rows each carrying a subDim-element slice. */
  private def subvecs(df: DataFrame, subDim: Int): DataFrame =
    df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"),
        col("emb"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(emb, sub * $subDim + 1, $subDim)").as("svec"))

  /** Subvector width: the embedding dimension split into [[PqM]]
    * equal slices (a dimension [[PqM]] does not divide is refused). */
  private def pqSubDim(spark: SparkSession, dir: String): Int = {
    val dim = embeddingDim(spark, dir)
    if (dim % PqM != 0)
      throw new IllegalStateException(
        s"PQ requires dim % $PqM == 0, got $dim")
    dim / PqM
  }

  /** Corpus subvector table, persisted per (session, dir): the Lloyd
    * assign passes, the final encode, and the query-side LUT all scan
    * it — caching turns 4 parquet-read+explode passes into one. */
  private def corpusSubvecs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pq_subvecs|$dir")(
      subvecs(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        pqSubDim(spark, dir)))

  /** Nearest codebook entry per (vec_id, sub) by exact L2 (argmin of
    * ||s||^2 - 2 s.c + ||c||^2, graft_dot kernels), code tie-break.
    * Codebooks are broadcast (M x K tiny rows), so candidates are
    * generated map-side and the min_by partial aggregation collapses
    * the K-way fanout BEFORE the (vec_id, sub) shuffle. */
  private def assignCodes(sv: DataFrame, books: DataFrame): DataFrame =
    sv.join(broadcast(books), Seq("sub"))
      .withColumn("dist", expr(
        "graft_dot(svec, svec) - 2 * graft_dot(svec, cvec) + " +
          "graft_dot(cvec, cvec)"))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("svec")),
        struct(col("dist"), col("code"))).as("pick"))
      .select(col("vec_id"), col("sub"),
        col("pick.code").as("code"), col("pick.svec").as("svec"))

  /** Per-subspace codebooks: K deterministic stride-sampled seeds
    * refined with [[PqLloydIters]] Lloyd iterations (same
    * integer-exact-mean trick as [[ivfCentroids]], so codebooks are
    * bit-deterministic under any partitioning). Cached per
    * (session, dir): the codebook is the trained artifact a PQ index
    * ships; at 100 TB it trains on a sample and encodes the full
    * corpus with one broadcast. */
  private def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pq_codebooks|$dir") {
      val sv = corpusSubvecs(spark, dir)
      val n = embCount(spark, dir)
      val stride = math.max(1L, n / PqK)
      val w = Window.partitionBy("sub").orderBy("vec_id")
      var books = sv.filter(col("vec_id") % stride === 0)
        .withColumn("code", row_number().over(w) - 1)
        .filter(col("code") < PqK)
        .select(col("sub"), col("code"), col("svec").as("cvec"))
      for (_ <- 1 to PqLloydIters) {
        books = assignCodes(sv, books)
          .select(col("sub"), col("code"),
            posexplode(col("svec")).as(Seq("pos", "v")))
          .groupBy("sub", "code", "pos")
          .agg((sum((col("v") * 1e6).cast("bigint")).cast("double") /
            count(lit(1)) / 1e6).as("c"))
          .groupBy("sub", "code")
          .agg(expr(
            "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
            .as("cvec"))
      }
      books
    }

  /** The encoded corpus (cid, sub, code) — N x M narrow rows, the
    * compressed PQ index artifact. Cached per (session, dir): q113
    * (flat ADC) and q114 (IVF+PQ) scan the same codes. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"pq_codes|$dir") {
      val books = pqCodebooks(spark, dir)
      assignCodes(corpusSubvecs(spark, dir), books)
        .select(col("vec_id").as("cid"), col("sub"), col("code"))
    }

  /** Query-side ADC lookup table: qdot[qid][sub][code] = exact dot of
    * the query's subvector with that codebook entry. Q x M x K rows —
    * tiny, broadcast at every use. */
  private def pqLut(spark: SparkSession, dir: String): DataFrame =
    onlyQueries(spark, dir, corpusSubvecs(spark, dir))
      .join(broadcast(pqCodebooks(spark, dir)), Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("code"),
        expr("graft_dot(svec, cvec)").as("qdot"))

  /** PQ-ADC ANN top-k rows: encode the corpus as M 4-bit codes per
    * vector, score queries against codes via an asymmetric-distance
    * lookup table (qdot[sub][code] = exact dot of the query's subvector
    * with that codebook entry — so approx_dot = sum over subspaces is
    * the dot against each vector's RECONSTRUCTION), shortlist
    * [[PqShortlist]] per query, then exact-re-rank to [[TopK]].
    *
    * Scale shape: the LUT is Q x M x K rows (tiny, broadcast); the scan
    * is one map-side join over the CODES table (N x M narrow rows — the
    * compressed index, never the raw vectors) + a map-side-combinable
    * (qid, cid) sum; only the shortlist joins the raw embeddings back.
    * Raw-vector I/O drops from O(Q x N) (q36 brute) to
    * O(Q x [[PqShortlist]]). */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val codes = pqCodes(spark, dir)
    val lut = pqLut(spark, dir)
    val approx = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg(sum(col("qdot")).as("approx_dot"))
    shortlistRerank(spark, dir, approx)
  }

  /** The shared PQ serving tail (q113 flat-ADC and q114 IVF+PQ end
    * identically): approx (qid, cid, approx_dot) rows -> normalize to
    * approximate cosine -> keep the [[PqShortlist]] widest candidates
    * per query -> exact-cosine re-rank of ONLY those rows to [[TopK]].
    * The only stage that touches raw vectors; the one copy of the
    * shortlist->re-rank rule (VERDICT r04 #7). */
  private def shortlistRerank(spark: SparkSession, dir: String,
      approx: DataFrame): DataFrame = {
    val qv = queryVecs(spark, dir)
    val cv = corpusVecs(spark, dir)
    val wS = Window.partitionBy("qid").orderBy(desc("approx_cos"), asc("cid"))
    val shortlist = approx
      .join(cv.select(col("cid"), col("nb")), Seq("cid"))
      .join(broadcast(qv.select(col("qid"), col("na"))), Seq("qid"))
      .withColumn("approx_cos", col("approx_dot") / (col("na") * col("nb")))
      .withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= PqShortlist)
      .select("qid", "cid")
    val wR = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
    shortlist
      .join(broadcast(qv), Seq("qid"))
      .join(cv, Seq("cid"))
      .select(col("qid"), col("cid"), simCol)
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** q113 — PQ-ADC ANN as its average-recall contract vs exact brute
    * force (same statistic as q52: ADC ranks by reconstruction dot, so
    * per-query recall varies with quantization error; the mean is the
    * stable regression signal). */
  def q113AnnPq(spark: SparkSession, dir: String): DataFrame =
    avgRecallContract(spark, dir, pqTopK(spark, dir), PqRecallFloor)

  /** IVF+PQ composed ANN top-k rows — THE production serving layout
    * (what q113's Scaladoc promises at 100 TB): queries probe their
    * nprobe nearest IVF cells (q52's cached Lloyd centroids), and ADC
    * scores ONLY the probed cells' members from the compressed codes
    * table (q113's cached codebooks/codes), shortlist exact-re-ranked.
    * Per-query work drops from O(N x M) flat-ADC lookups to
    * O((N / cells) x nprobe x M) with nprobe logarithmic in the cell
    * count ([[ivfNprobe]]), and — the real point — the raw vectors are
    * touched only for the shortlist: at 100 TB the corpus is written
    * bucketed by cell id with codes co-resident, so a query reads a few
    * cells' CODE files (64x smaller than the vectors) plus
    * [[PqShortlist]] raw rows. Probing is deliberately more generous
    * than q52's (4*log2 vs 3*log2 cells): quantization error stacks on
    * cell-boundary error, and the codes scan being 64x cheaper per row
    * is exactly the budget that pays for wider probes. */
  def ivfPqTopK(spark: SparkSession, dir: String,
      nprobeOverride: Option[Int] = None): DataFrame = {
    val allN = normedVecs(spark, dir)
    val centroids = ivfCentroids(spark, dir)
    val nprobe = nprobeOverride.getOrElse(
      ivfNprobe(ivfCellCount(spark, dir), IvfPqProbeScale, ProbeFloor))
    val assigned = nearestCells(allN, centroids, 1, "crank")
      .select(col("vec_id").as("cid"), col("cent_id").as("cell"))
    val probes = nearestCells(
      onlyQueries(spark, dir, allN), centroids, nprobe,
      "prank")
      .select(col("vec_id").as("qid"), col("cent_id").as("cell"))
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val codes = pqCodes(spark, dir)
    val lut = pqLut(spark, dir)
    val approx = cand.join(codes, Seq("cid"))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .groupBy("qid", "cid")
      .agg(sum(col("qdot")).as("approx_dot"))
    shortlistRerank(spark, dir, approx)
  }

  /** q114 — IVF+PQ ANN as its average-recall contract vs exact brute
    * force. Cell-boundary loss and quantization loss stack, so the
    * honest floor sits below both q52's and q113's. */
  def q114AnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    avgRecallContract(spark, dir, ivfPqTopK(spark, dir), IvfPqRecallFloor)


  /** q52 — IVF ANN as its AVERAGE-recall contract vs exact brute force.
    * The average (not per-query) floor is the honest statistic for IVF on
    * weakly-clustered data: a query whose true neighbors straddle
    * unprobed cells legitimately scores low, but the mean over queries is
    * stable and still collapses on any real regression. */
  def q52AnnIvfTopK(spark: SparkSession, dir: String): DataFrame =
    avgRecallContract(spark, dir, ivfTopK(spark, dir), IvfRecallFloor)

  private val IvfRecallFloor = 0.5
  // PQ avg recall floor: ProbeSweep measured (deterministic, fixed
  // 20-query hash batch) 0.84 at sf0.001, 0.82 at sf0.01, 0.59 at
  // sf0.1 with the 100-wide shortlist
  // — 32-bit codes on 64-dim vectors keep real quantization error, so
  // the honest floor sits below LSH's; at production scale the recall
  // knob is IVF+PQ composition (probe cells, ADC within), not a wider
  // full-corpus shortlist
  private val PqRecallFloor = 0.5
  // IVF+PQ floor: ProbeSweep measured (deterministic, fixed 20-query
  // hash batch) 0.81 at sf0.001, 0.80 at sf0.01, 0.58 at sf0.1 — the
  // generous 2/3 probe
  // width keeps the stacked cell-boundary + quantization losses at
  // the flat-ADC level while scanning far fewer code rows per query
  private val IvfPqRecallFloor = 0.5


  // ---------------------------------------------------------------- q387

  /** q387 int8 code range (symmetric scalar quantization). */
  private[graft] val QuantMax = 127L

  /** q387 — INT8 SCALAR-QUANTIZATION AUDIT: symmetric per-vector int8
    * quantization (scale = the vector's max |coordinate|, code =
    * round(v·127/scale) ∈ [−127, 127]) priced per label by cosine
    * preservation, worst-vector cosine, max absolute coordinate error,
    * and relative MSE. This is the 4×-memory serving trade every
    * vector store offers BEFORE the codebook methods — per-vector
    * scalar quant needs no trained model (vs q113's PQ/q114's IVFPQ),
    * so the audit is the decision input for "is int8 enough, or do we
    * pay for PQ training?". Mergeable and one-pass: per-vector work is
    * a 64-row partitioned window (the max-abs scale) plus exact-BIGINT
    * folds; per-label roll-ups fold micro-quantized cosines (never raw
    * double sums). Linear in the corpus, no joins wider than the scan.
    *
    * Determinism: quantize → reconstruct → error all in integer
    * micro-units (round-half-away division by the exact integer
    * scale); cos folds exact BIGINT dot/norms with two sqrts + one
    * division at the end (the q223 trick); per-vector cos micro-
    * quantized before the label mean. */
  def q387Int8QuantAudit(spark: SparkSession, dir: String): DataFrame = {
    val wVec = Window.partitionBy("vec_id")
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("vm",
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)"))
      .withColumn("scale_m", max(abs(col("vm"))).over(wVec))
      .filter(col("scale_m") > 0) // the all-zero vector has no scale
      .withColumn("code",
        expr(s"cast(round(vm * $QuantMax.0 / scale_m, 0) as bigint)"))
      .withColumn("rm",
        expr(s"cast(round(code * scale_m / $QuantMax.0, 0) as bigint)"))
      .withColumn("err", col("vm") - col("rm"))
    val per = pts.groupBy("vec_id", "label")
      .agg(sum(col("vm") * col("rm")).as("dot"),
        sum(col("vm") * col("vm")).as("v2"),
        sum(col("rm") * col("rm")).as("r2"),
        sum(col("err") * col("err")).as("e2"),
        max(abs(col("err"))).as("max_err"))
      .withColumn("cos_u", expr(
        "cast(round(cast(dot as double) / (sqrt(cast(v2 as double))" +
          " * sqrt(cast(r2 as double))) * 1e6, 0) as bigint)"))
    per.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("round(cast(sum(cos_u) as double) / count(*) / 1e6, 6)")
          .as("mean_cos"),
        expr("round(min(cos_u) / 1e6, 6)").as("worst_cos"),
        max(col("max_err")).as("max_abs_err_micro"),
        expr("round(cast(sum(e2) as double) / cast(sum(v2) as double)," +
          " 6)").as("rel_mse"))
      .orderBy("label")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q52_ann_ivf_topk", q52AnnIvfTopK _,
      s"""WITH $QselCte
        |SELECT count(*) AS n_queries, TRUE AS avg_recall_ok
        |FROM qsel""".stripMargin),
    QueryDef("q113_ann_pq", q113AnnPq _,
      s"""WITH $QselCte
        |SELECT count(*) AS n_queries, TRUE AS avg_recall_ok
        |FROM qsel""".stripMargin),
    QueryDef("q114_ann_ivfpq", q114AnnIvfPq _,
      s"""WITH $QselCte
        |SELECT count(*) AS n_queries, TRUE AS avg_recall_ok
        |FROM qsel""".stripMargin),
    QueryDef("q387_int8_quant_audit", q387Int8QuantAudit _,
      s"""WITH ex AS (
        |  SELECT vec_id, label, i AS pos,
        |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS vm
        |  FROM (SELECT vec_id, label, embedding,
        |               unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |sc AS (
        |  SELECT vec_id, label, pos, vm,
        |         max(abs(vm)) OVER (PARTITION BY vec_id) AS scale_m
        |  FROM ex),
        |qt AS (
        |  SELECT *,
        |         CAST(round(vm * $QuantMax.0 / scale_m, 0) AS BIGINT)
        |           AS code
        |  FROM sc WHERE scale_m > 0),
        |rc AS (
        |  SELECT *,
        |         CAST(round(code * scale_m / $QuantMax.0, 0) AS BIGINT)
        |           AS rm
        |  FROM qt),
        |per AS (
        |  SELECT vec_id, label,
        |         CAST(sum(vm * rm) AS BIGINT) AS dot,
        |         CAST(sum(vm * vm) AS BIGINT) AS v2,
        |         CAST(sum(rm * rm) AS BIGINT) AS r2,
        |         CAST(sum((vm - rm) * (vm - rm)) AS BIGINT) AS e2,
        |         CAST(max(abs(vm - rm)) AS BIGINT) AS max_err
        |  FROM rc GROUP BY 1, 2),
        |cu AS (
        |  SELECT *,
        |         CAST(round(CAST(dot AS DOUBLE)
        |           / (sqrt(CAST(v2 AS DOUBLE)) * sqrt(CAST(r2
        |           AS DOUBLE))) * 1e6, 0) AS BIGINT) AS cos_u
        |  FROM per)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(CAST(sum(cos_u) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_cos,
        |       round(min(cos_u) / 1e6, 6) AS worst_cos,
        |       CAST(max(max_err) AS BIGINT) AS max_abs_err_micro,
        |       round(CAST(sum(e2) AS DOUBLE) / CAST(sum(v2) AS DOUBLE),
        |         6) AS rel_mse
        |FROM cu GROUP BY label ORDER BY label""".stripMargin))
}
