package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] curation-hardening operators (round 15): the audits a
  * training-data pipeline runs AFTER the basic gates are in place —
  * split-leakage prevention across near-dup clusters, degenerate
  * (self-repeating) text detection, and embedding-space outlier
  * screening. Complements Curation/Dedup/DedupClusters; same contract
  * (each query oracle-checked against DuckDB on the same parquet).
  *
  * Scale notes: q393 composes the CACHED q34 pair table and q73
  * cluster labels (both banded/blocked, never corpus²) with per-doc
  * hash arithmetic — the only new work is three 3-row aggregates.
  * q394 is ONE document scan with per-row array work and one
  * source-key aggregation: zero joins, zero explodes. q395's only
  * corpus-wide shuffle is the per-dimension moment aggregation
  * (64 rows out), which then re-joins the scan as a broadcast of a
  * FIXED-size (n_dims-row) table — the legitimate broadcast class
  * (structurally bounded, independent of corpus size).
  */
object CurationHardening {

  /** Planted-harness offsets (q391/q392 discipline: re-keyed copies
    * live alongside the originals so detectors are audited against a
    * known ground truth, never against silence). */
  private[graft] val RepTileOffset = 5000000L
  private[graft] val OutlierOffset = 5000000L
  /** Every 7th doc gets a tiled (degenerate) twin; every 11th vector
    * a 3x-scaled outlier twin. */
  private[graft] val RepPlantMod = 7L
  private[graft] val OutlierPlantMod = 11L

  private def bucketOf(key: Column): Column =
    pmod(Hashing.md5Hash60(key), lit(10))
  private def splitOf(b: Column): Column =
    when(b < 8, lit("train")).when(b < 9, lit("val")).otherwise(lit("test"))

  /** q393 — LEAKAGE-FREE TRAIN/VAL/TEST SPLIT: q97's deterministic
    * hash split assigns DOCUMENTS independently, so the two halves of
    * a near-duplicate pair can land in different splits — the classic
    * eval-contamination leak (train on A, test on its 0.8-Jaccard twin
    * A'). The fix is to split by UNIT: each doc's unit is its q73
    * near-dup cluster id when clustered, else its own doc_id, and the
    * split hash is keyed on the unit — every near-dup pair shares a
    * unit by construction, so no pair can straddle splits.
    *
    * Output (one row per split): unit/doc/char accounting for the
    * cluster-aware split, the doc count the naive q97 split would have
    * produced, and the MACHINE-CHECKED leak audit — near-dup pairs
    * straddling splits under the naive assignment (attributed to the
    * lower doc_id's split) vs under the unit assignment (provably 0;
    * the column is kept so any future change that breaks the
    * invariant surfaces as a nonzero, not as silence).
    *
    * Scale: the pair table is the cached banded q34 result and the
    * label table is |clustered docs| rows; the new work is per-doc
    * hash arithmetic in the scan plus three 3-row aggregates joined
    * on an enum-sized spine. Nothing here grows faster than the
    * dedup campaign that feeds it. */
  def q393LeakageFreeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val labels = DedupClusters.q73DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val assigned = docs.join(labels, Seq("doc_id"), "left_outer")
      .withColumn("unit_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", splitOf(bucketOf(
        concat(lit("usplit:"), col("unit_id").cast("string")))))
      // the naive comparison replicates q97 exactly, salt included
      .withColumn("naive_split", splitOf(bucketOf(
        concat(lit("split:"), col("doc_id").cast("string")))))
    val stats = assigned.groupBy("split").agg(
      countDistinct(col("unit_id")).as("n_units"),
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"))
    val naive = assigned.groupBy(col("naive_split").as("split"))
      .agg(count(lit(1)).as("naive_n_docs"))
    val sp = assigned.select(col("doc_id"), col("split"), col("naive_split"))
    val pairSplits = Dedup.q34DedupNgramJaccard(spark, dir)
      .select(col("id1"), col("id2"))
      .join(sp.select(col("doc_id").as("id1"), col("split").as("u1"),
        col("naive_split").as("n1")), Seq("id1"))
      .join(sp.select(col("doc_id").as("id2"), col("split").as("u2"),
        col("naive_split").as("n2")), Seq("id2"))
    val leakNaive = pairSplits.filter(col("n1") =!= col("n2"))
      .groupBy(col("n1").as("split"))
      .agg(count(lit(1)).as("leaked_pairs_naive"))
    val leakUnit = pairSplits.filter(col("u1") =!= col("u2"))
      .groupBy(col("u1").as("split"))
      .agg(count(lit(1)).as("leaked_pairs_unit"))
    // enum-sized split spine: all three rows present at any SF
    import spark.implicits._
    val spine = Seq("test", "train", "val").toDF("split")
    spine.join(stats, Seq("split"), "left_outer")
      .join(naive, Seq("split"), "left_outer")
      .join(leakNaive, Seq("split"), "left_outer")
      .join(leakUnit, Seq("split"), "left_outer")
      .select(col("split"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("naive_n_docs"), lit(0L)).as("naive_n_docs"),
        coalesce(col("leaked_pairs_naive"), lit(0L)).as("leaked_pairs_naive"),
        coalesce(col("leaked_pairs_unit"), lit(0L)).as("leaked_pairs_unit"))
      .orderBy("split")
  }

  /** The q394 planted corpus: originals plus, for every RepPlantMod-th
    * doc with >= 5 words, a degenerate twin whose text is its first 5
    * words tiled 20 times — the self-repeating loop shape that
    * generation failures and template spam produce. Deterministic
    * (no rand), re-keyed by RepTileOffset, source preserved so the
    * per-source report shows exactly where the junk sits. */
  private def repCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val planted = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(col("doc_id") % RepPlantMod === 0 && size(col("ws")) >= 5)
      .select((col("doc_id") + RepTileOffset).as("doc_id"), col("source"),
        concat_ws(" ", array_repeat(
          concat_ws(" ", slice(col("ws"), 1, 5)), 20)).as("text"))
    docs.unionByName(planted)
  }

  /** q394 — INTRA-DOCUMENT REPETITION PROFILE (degenerate-text
    * detector): repetition = 1 − |distinct word trigrams| / (n_words −
    * 2) per doc (>= 3 words), the cheapest reliable signal for
    * looping/tiled text. Natural prose scores ~0; the planted tiled
    * twins score ~0.95, so the per-source report's flagged count (>
    * 0.2) equals the planted census — detection proven against ground
    * truth, not asserted. Uses the SAME trigram definition as the
    * dedup shingles, so a corpus that already materialized shingle
    * sizes gets this for free.
    *
    * Scale: ONE scan of the corpus — trigram distinct-count is per-row
    * array work (no explode: |distinct| via array_distinct on the
    * already-split words), then a single source-key aggregation. */
  def q394RepetitionProfile(spark: SparkSession, dir: String): DataFrame = {
    val scored = repCorpus(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("nw", size(col("ws")).cast("long"))
      .filter(col("nw") >= 3)
      .withColumn("nd", size(array_distinct(expr(
        "transform(sequence(1, int(nw) - 2), i -> concat_ws(' ', slice(ws, i, 3)))")))
        .cast("long"))
      .withColumn("rep", round(lit(1.0) -
        col("nd").cast("double") / (col("nw") - 2), 6))
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("rep")), 4).as("avg_repetition"),
        max(col("rep")).as("max_repetition"),
        sum(when(col("rep") > 0.2, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("rep") > 0.2, col("doc_id") - RepTileOffset)
          .otherwise(0L)).as("flagged_id_sum"))
      .orderBy("source")
  }

  /** The q395 planted vectors: originals plus, for every
    * OutlierPlantMod-th vec_id, a 3x-scaled copy (float multiply —
    * exact in both engines since 3x a 24-bit mantissa fits double's
    * 53) re-keyed by OutlierOffset. The synthetic embedding corpus is
    * isotropic (z ≈ 1.0 everywhere), so without planting the audit
    * could only ever report silence. */
  private def outlierVectors(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = vecs.filter(col("vec_id") % OutlierPlantMod === 0)
      .select((col("vec_id") + OutlierOffset).as("vec_id"), col("label"),
        expr("transform(embedding, x -> x * cast(3.0 as float))")
          .as("embedding"))
    vecs.unionByName(planted)
  }

  /** q395 — EMBEDDING OUTLIER AUDIT: per-dimension corpus moments
    * (mean, population stddev), then each vector's normalized RMS
    * z-distance sqrt(avg(((x_d − mu_d)/sigma_d)^2)); report per label:
    * count, mean z, max z, outliers (z > 1.5) and the planted-outlier
    * census they should equal. Catches encoder regressions, corrupt
    * shards, and scale drift before they poison ANN indexes or
    * similarity gates.
    *
    * Scale: one posexplode shuffle keyed by dimension (n_dims-row
    * output), the moment table re-enters as a structurally-bounded
    * broadcast (n_dims rows regardless of corpus size), and the per-
    * vector fold aggregates the same exploded scan — two shuffle
    * classes total, both on keys whose cardinality the schema fixes. */
  def q395EmbeddingOutlierAudit(spark: SparkSession, dir: String): DataFrame = {
    val ex = outlierVectors(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val dimStats = ex.groupBy("pos")
      .agg(avg(col("v")).as("mu"), stddev_pop(col("v")).as("sg"))
    val z = ex.join(broadcast(dimStats), Seq("pos"))
      .withColumn("t", when(col("sg") > 0,
        (col("v") - col("mu")) / col("sg") *
          ((col("v") - col("mu")) / col("sg"))).otherwise(lit(0.0)))
      .groupBy("vec_id", "label")
      .agg(round(sqrt(avg(col("t"))), 4).as("z"))
    z.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("z")), 4).as("avg_z"),
        max(col("z")).as("max_z"),
        sum(when(col("z") > 1.5, 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("vec_id") >= OutlierOffset, 1L).otherwise(0L))
          .as("n_planted"))
      .orderBy("label")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q393_leakage_free_split", q393LeakageFreeSplit _,
      s"""WITH RECURSIVE ${DedupClusters.closureCtes},
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |asg AS (
         |  SELECT d.doc_id, d.n_chars,
         |         COALESCE(l.cluster_id, d.doc_id) AS unit_id,
         |         ('0x' || substr(md5('usplit:' ||
         |            CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)),
         |            1, 15))::BIGINT % 10 AS ub,
         |         ('0x' || substr(md5('split:' ||
         |            CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS nb
         |  FROM documents d LEFT JOIN labels l USING (doc_id)),
         |asg2 AS (
         |  SELECT *,
         |         CASE WHEN ub < 8 THEN 'train' WHEN ub < 9 THEN 'val'
         |              ELSE 'test' END AS split,
         |         CASE WHEN nb < 8 THEN 'train' WHEN nb < 9 THEN 'val'
         |              ELSE 'test' END AS naive_split
         |  FROM asg),
         |stats AS (
         |  SELECT split, count(DISTINCT unit_id) AS n_units,
         |         count(*) AS n_docs, sum(n_chars) AS n_chars
         |  FROM asg2 GROUP BY 1),
         |nstats AS (
         |  SELECT naive_split AS split, count(*) AS naive_n_docs
         |  FROM asg2 GROUP BY 1),
         |pl AS (
         |  SELECT a1.split AS u1, a2.split AS u2,
         |         a1.naive_split AS n1, a2.naive_split AS n2
         |  FROM pairs p
         |  JOIN asg2 a1 ON a1.doc_id = p.id1
         |  JOIN asg2 a2 ON a2.doc_id = p.id2),
         |ln AS (SELECT n1 AS split, count(*) AS leaked_pairs_naive
         |       FROM pl WHERE n1 <> n2 GROUP BY 1),
         |lu AS (SELECT u1 AS split, count(*) AS leaked_pairs_unit
         |       FROM pl WHERE u1 <> u2 GROUP BY 1),
         |spine AS (SELECT 'train' AS split UNION ALL SELECT 'val'
         |          UNION ALL SELECT 'test')
         |SELECT sp.split,
         |       CAST(COALESCE(s.n_units, 0) AS BIGINT) AS n_units,
         |       CAST(COALESCE(s.n_docs, 0) AS BIGINT) AS n_docs,
         |       CAST(COALESCE(s.n_chars, 0) AS BIGINT) AS n_chars,
         |       CAST(COALESCE(n.naive_n_docs, 0) AS BIGINT)
         |         AS naive_n_docs,
         |       CAST(COALESCE(ln.leaked_pairs_naive, 0) AS BIGINT)
         |         AS leaked_pairs_naive,
         |       CAST(COALESCE(lu.leaked_pairs_unit, 0) AS BIGINT)
         |         AS leaked_pairs_unit
         |FROM spine sp
         |LEFT JOIN stats s ON s.split = sp.split
         |LEFT JOIN nstats n ON n.split = sp.split
         |LEFT JOIN ln ON ln.split = sp.split
         |LEFT JOIN lu ON lu.split = sp.split
         |ORDER BY sp.split""".stripMargin),
    QueryDef("q394_repetition_profile", q394RepetitionProfile _,
      s"""WITH corpus AS (
         |  SELECT doc_id, source, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $RepTileOffset, source,
         |         trim(repeat(array_to_string(
         |           string_split(text, ' ')[1:5], ' ') || ' ', 20))
         |  FROM documents
         |  WHERE doc_id % $RepPlantMod = 0
         |    AND len(string_split(text, ' ')) >= 5),
         |w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |      FROM corpus),
         |t AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS nw, ws
         |      FROM w WHERE len(ws) >= 3),
         |scored AS (
         |  SELECT doc_id, source, nw,
         |         round(1.0 - CAST(
         |           (SELECT count(DISTINCT array_to_string(ws[i:i+2], ' '))
         |            FROM unnest(generate_series(1, CAST(nw AS INT) - 2))
         |              AS g(i)) AS DOUBLE) / (nw - 2), 6) AS rep
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |       round(avg(rep), 4) AS avg_repetition,
         |       max(rep) AS max_repetition,
         |       CAST(count(*) FILTER (WHERE rep > 0.2) AS BIGINT)
         |         AS n_flagged,
         |       CAST(COALESCE(sum(doc_id - $RepTileOffset)
         |              FILTER (WHERE rep > 0.2), 0) AS BIGINT)
         |         AS flagged_id_sum
         |FROM scored GROUP BY source ORDER BY source""".stripMargin),
    QueryDef("q395_embedding_outlier_audit", q395EmbeddingOutlierAudit _,
      s"""WITH vecs AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $OutlierOffset, label,
         |         list_transform(embedding,
         |           x -> CAST(x * 3 AS FLOAT))
         |  FROM embeddings WHERE vec_id % $OutlierPlantMod = 0),
         |ex AS (
         |  SELECT vec_id, label, i AS pos,
         |         CAST(embedding[i] AS DOUBLE) AS v
         |  FROM vecs, unnest(generate_series(1, len(embedding))) AS t(i)),
         |ds AS (SELECT pos, avg(v) AS mu, stddev_pop(v) AS sg
         |       FROM ex GROUP BY 1),
         |z AS (
         |  SELECT vec_id, label,
         |         round(sqrt(avg(CASE WHEN sg > 0
         |           THEN ((v - mu) / sg) * ((v - mu) / sg)
         |           ELSE 0 END)), 4) AS z
         |  FROM ex JOIN ds USING (pos) GROUP BY 1, 2)
         |SELECT label, count(*) AS n_vecs, round(avg(z), 4) AS avg_z,
         |       max(z) AS max_z,
         |       CAST(count(*) FILTER (WHERE z > 1.5) AS BIGINT)
         |         AS n_outliers,
         |       CAST(count(*) FILTER (WHERE vec_id >= $OutlierOffset)
         |         AS BIGINT) AS n_planted
         |FROM z GROUP BY label ORDER BY label""".stripMargin))
}
