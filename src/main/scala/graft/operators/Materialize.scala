package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] q389 — the END-TO-END TRAINING-DATA MATERIALIZATION PIPELINE
  * (VERDICT r13 #5): the M5 composition every stage of which already
  * exists as its own audited operator, chained in the order a
  * pretraining-data job actually runs them, with the per-stage
  * attrition accounting (the "data card" of the run) as the output:
  *
  *   1_gate          — q383's five curation rules, in order
  *   2_exact_dedup   — q31's canonical-per-identical-text (min doc_id)
  *   3_near_dedup    — q32's MinHash 16-perm / 4-band LSH; a doc is
  *                     dropped iff ANY smaller-id EXACT-dedup survivor
  *                     shares ≥ [[NearDupBands]] of 4 bands — including
  *                     one that is itself near-dup-dropped (no
  *                     transitive canonicalization: in a chain A~B~C
  *                     both B and C drop even when A≁C)
  *   4_decontaminate — q66's held-out benchmark slice (doc_id % 97 ==
  *                     0): the holdout itself AND every survivor
  *                     sharing a word 5-gram with it leave the corpus
  *   5_token_sample  — q384's Madow token-budget PPS pick (every
  *                     [[Curation.TokenStride]] tokens of hash-ordered
  *                     running mass, [[DistributedRank]] prefix sums —
  *                     never `rand()`)
  *   6_pack          — q98's shard-local 2048-token bin packing
  *
  * Stage ORDER is the point (the individually-green operators can
  * compose wrong): gates run first so dedup never canonicalizes onto a
  * doc the gates would later kill; BOTH dedups run before sampling so
  * duplicate mass cannot buy duplicate picks; decontamination runs
  * after dedup (cheaper: fewer docs shed their grams) but before
  * sampling so benchmark-tainted mass cannot displace clean picks; the
  * pack bins exactly the sampled set. Each output row carries
  * rows_in/rows_out/tokens_out, so any stage reordering or rule drift
  * shows up as a changed attrition line, oracle-checked end-to-end.
  *
  * Scale shape: no new plan class. The gates are one scan; exact dedup
  * one hash groupBy on md5(text); near-dup pairs meet ONLY on a shared
  * (band, band_sig) content key (q32's blocking); decontamination is
  * q103's bloom-pruned probe — the corpus side is filtered in its scan
  * stage, and only survivors meet the broadcast benchmark grams
  * (benchmark-sized by construction) for the exact verify;
  * the sample's prefix sum is the two-job range-partition primitive
  * (#partitions driver scalars, no global window); packing windows
  * partition by shard. The stage flags are computed as ONE lineage
  * (left joins of per-stage drop sets onto the doc spine), so the
  * final attrition aggregate is a single plan whose repeated subtrees
  * reuse their exchanges.
  *
  * Design refs: the stage semantics are pinned to the referenced
  * queries' operators (same helpers, not copies) — q383
  * [[Curation.funnelGateCols]], q31/q32 [[Dedup.shingleRows]] +
  * [[Dedup.bandsFromShingles]], q66 [[Curation.grams5]], q384
  * [[DistributedRank.withRunningTotal]], q98's window shape.
  */
object Materialize {

  /** Near-dup drop threshold: ≥ 3 of 4 shared LSH bands (J ≈ 0.9+ at
    * 16 perms / 4 bands — conservative; the q32 report surfaces the
    * full band-count distribution for threshold tuning). */
  private[graft] val NearDupBands = 3

  /** Packing budget (tokens per bin) — q98's literal. */
  private[graft] val PackBudget = 2048L

  /** The UN-CHECKPOINTED gate → exact-dedup → near-dedup →
    * decontamination flag lineage (doc_id, n_tokens, g ⊇ e ⊇ nd ⊇ dc) —
    * factored out so the plan audit (`graft.Explain`) can still dump
    * the full declarative lineage (including the `graft_bloom_contains`
    * scan-stage probe in the decontamination arm) even though the
    * registered query reads it through a checkpoint. */
  private[graft] def flagSpinePlan(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = Curation.funnelGateCols(docs)
      .withColumn("g",
        col("r1") && col("r2") && col("r3") && col("r4") && col("r5"))
      .select(col("doc_id"), col("text"), col("g"),
        col("n_words").as("n_tokens"), md5(col("text")).as("th"))
    // 2: exact dedup among gate survivors (q31's min-doc_id canonical)
    val canon = base.filter(col("g")).groupBy("th")
      .agg(min(col("doc_id")).as("canon_id"))
    val f1 = base.join(canon, Seq("th"), "left")
      .withColumn("e", col("g") && col("doc_id") === col("canon_id"))
    // 3: near-dup among exact survivors — pairs meet only on a shared
    // (band, band_sig); drop the LARGER id of any qualifying pair
    val bands = Dedup.bandsFromShingles(Dedup.shingleRows(
      f1.filter(col("e")).select(col("doc_id"), col("text"))))
    val dropped = bands.select(col("doc_id").as("id1"), col("band"),
        col("band_sig"))
      .join(bands.select(col("doc_id").as("id2"), col("band"),
        col("band_sig")), Seq("band", "band_sig"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(countDistinct(col("band")).as("nb"))
      .filter(col("nb") >= NearDupBands)
      .select(col("id2").as("doc_id")).distinct()
      .withColumn("nd_drop", lit(true))
    val f2 = f1.join(dropped, Seq("doc_id"), "left")
      .withColumn("nd", col("e") && col("nd_drop").isNull)
    // 4: decontamination — q103's bloom-pruned kernel (VERDICT r14 #3):
    // the corpus side is only the near-dedup survivors (the docs that
    // could still train), pruned by the scan-stage bloom probe before
    // any shuffle; exact verify keeps the result bit-identical to the
    // q66-style exact join the oracle runs
    val contam = Curation.bloomContaminatedIds(spark,
        Curation.benchGrams(spark, dir),
        Curation.grams5(
          f2.filter(col("nd") && col("doc_id") % 97 =!= 0)
            .select(col("doc_id"), col("text"))))
      .withColumn("contam", lit(true))
    val f3 = f2.join(contam, Seq("doc_id"), "left")
      .withColumn("dc", col("nd") && col("doc_id") % 97 =!= 0 &&
        col("contam").isNull)
    f3.select("doc_id", "n_tokens", "g", "e", "nd", "dc")
  }

  /** The per-doc stage-flag frame: doc_id, n_tokens, and cumulative
    * survival flags g (gates) ⊇ e (exact) ⊇ nd (near) ⊇ dc (decontam)
    * ⊇ sm (sampled). One lineage; each stage's drop set left-joins
    * onto the spine. */
  private def stageFlags(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the NARROW flag spine once (the q138/q144 checkpoint
    // discipline): downstream of here sit 4+ independent jobs — the
    // PPS sample's range-partition sampling pass and prefix-sum
    // checkpoint, the stats fold, the pack arm's broadcast build — and
    // without a materialization point EACH re-evaluates the whole
    // gate → dedup → band-join → decontamination lineage (measured:
    // ~+4 s/run at sf0.1, paid inside single-task broadcast-build
    // jobs). The spine is doc_id + n_tokens + 4 booleans — O(docs)
    // narrow, the exact artifact (per-doc keep/drop flags) a
    // production materialization run persists anyway before sampling.
    val spine = flagSpinePlan(spark, dir).localCheckpoint()
    // 5: token-budget PPS sample over the clean corpus (q384's Madow
    // systematic pick on a salted-hash order — deterministic, exactly
    // one pick per TokenStride of corpus mass)
    val stride = Curation.TokenStride
    val picked = DistributedRank.withRunningTotal(
        spine.filter(col("dc")).select(col("doc_id"), col("n_tokens"))
          .withColumn("h", md5(concat(lit("matsample:"),
            col("doc_id").cast("string")))),
        "n_tokens", "cum", asc("h"), asc("doc_id"))
      .filter(expr(s"cum div $stride > (cum - n_tokens) div $stride"))
      .select(col("doc_id")).withColumn("sm_pick", lit(true))
    spine.join(picked, Seq("doc_id"), "left")
      .withColumn("sm", col("dc") && col("sm_pick").isNotNull)
      .select("doc_id", "n_tokens", "g", "e", "nd", "dc", "sm")
  }

  /** q389 — the pipeline's data card: one row per stage with
    * rows_in/rows_out/tokens_out. rows_out of 6_pack counts the packed
    * BINS (q98's shard-local greedy fill over the sampled docs). */
  def q389TrainingMaterialization(spark: SparkSession,
      dir: String): DataFrame = {
    val flags = stageFlags(spark, dir)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: org.apache.spark.sql.Column) =
      sum(when(c, col("n_tokens")).otherwise(0L))
    val stats = flags.agg(
      count(lit(1)).as("n_all"), sum(col("n_tokens")).as("t_all"),
      cnt(col("g")).as("n_g"), tok(col("g")).as("t_g"),
      cnt(col("e")).as("n_e"), tok(col("e")).as("t_e"),
      cnt(col("nd")).as("n_nd"), tok(col("nd")).as("t_nd"),
      cnt(col("dc")).as("n_dc"), tok(col("dc")).as("t_dc"),
      cnt(col("sm")).as("n_sm"), tok(col("sm")).as("t_sm"))
    // 6: pack the sampled docs into shard-local token bins (q98 shape)
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bins = flags.filter(col("sm"))
      .select(col("doc_id"), expr("doc_id div 1000").as("shard"),
        col("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $PackBudget"))
      .groupBy("shard", "bin").agg(sum(col("n_tokens")).as("bt"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_bins"),
        coalesce(sum(col("bt")), lit(0L)).as("t_packed"))
    stats.crossJoin(broadcast(bins))
      .select(explode(array(
        struct(lit("1_gate").as("stage"), col("n_all").as("rows_in"),
          col("n_g").as("rows_out"), col("t_g").as("tokens_out")),
        struct(lit("2_exact_dedup").as("stage"), col("n_g").as("rows_in"),
          col("n_e").as("rows_out"), col("t_e").as("tokens_out")),
        struct(lit("3_near_dedup").as("stage"), col("n_e").as("rows_in"),
          col("n_nd").as("rows_out"), col("t_nd").as("tokens_out")),
        struct(lit("4_decontaminate").as("stage"),
          col("n_nd").as("rows_in"), col("n_dc").as("rows_out"),
          col("t_dc").as("tokens_out")),
        struct(lit("5_token_sample").as("stage"),
          col("n_dc").as("rows_in"), col("n_sm").as("rows_out"),
          col("t_sm").as("tokens_out")),
        struct(lit("6_pack").as("stage"), col("n_sm").as("rows_in"),
          col("n_bins").as("rows_out"),
          col("t_packed").as("tokens_out")))).as("s"))
      .select(col("s.stage"), col("s.rows_in"), col("s.rows_out"),
        col("s.tokens_out"))
      .orderBy("stage")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q389_training_materialization", q389TrainingMaterialization _,
      {
      val stops = Curation.FunnelStops.map(s => s"'$s'")
        .mkString("[", ", ", "]")
      s"""WITH base AS (
        |  SELECT doc_id, text, md5(text) AS th,
        |         CAST(len(wl) AS BIGINT) AS n_tokens,
        |         (n_chars BETWEEN ${Curation.FunnelLenMin}
        |            AND ${Curation.FunnelLenMax}
        |          AND CAST(len(wl) AS BIGINT) >=
        |            ${Curation.FunnelMinWords}
        |          AND ${Curation.FunnelMwlMin} * CAST(len(wl) AS BIGINT)
        |            <= CAST(len(replace(text, ' ', '')) AS BIGINT)
        |          AND CAST(len(replace(text, ' ', '')) AS BIGINT)
        |            <= ${Curation.FunnelMwlMax} * CAST(len(wl) AS BIGINT)
        |          AND len(list_intersect(wl, $stops)) > 0
        |          AND ${Curation.FunnelTtrDen}
        |            * CAST(len(list_distinct(wl)) AS BIGINT) >=
        |            ${Curation.FunnelTtrNum} * CAST(len(wl) AS BIGINT))
        |           AS g
        |  FROM (SELECT *, list_filter(string_split(text, ' '),
        |                w -> len(w) > 0) AS wl
        |        FROM documents)),
        |canon AS (SELECT th, min(doc_id) AS canon_id
        |          FROM base WHERE g GROUP BY th),
        |f1 AS (SELECT b.*, (g AND doc_id = canon_id) AS e
        |       FROM base b LEFT JOIN canon USING (th)),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ')
        |           AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
        |               unnest(generate_series(1,
        |                 len(string_split(text, ' ')) - 2)) AS i
        |        FROM f1 WHERE e)),
        |hashed AS (
        |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT
        |           AS x
        |  FROM sh),
        |minhashes AS (
        |  SELECT doc_id, j,
        |         min((((2654435761 * (j + 1)) % 1000000007)
        |              * (x % 1000000007)
        |              + ((123456789 * (j + 1) + 987654321) % 1000000007))
        |             % 1000000007) AS mh
        |  FROM (SELECT doc_id, x, unnest(generate_series(0, 15)) AS j
        |        FROM hashed)
        |  GROUP BY doc_id, j),
        |bands AS (
        |  SELECT doc_id, j // 4 AS band,
        |         md5(string_agg(CAST(mh AS VARCHAR), '_' ORDER BY j))
        |           AS band_sig
        |  FROM minhashes GROUP BY doc_id, j // 4),
        |dropped AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_sig = b.band_sig
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING count(DISTINCT a.band) >= $NearDupBands),
        |f2 AS (SELECT f1.*, (e AND dropped.doc_id IS NULL) AS nd
        |       FROM f1 LEFT JOIN dropped USING (doc_id)),
        |bench AS (
        |  SELECT DISTINCT array_to_string(words[i:i+4], ' ') AS gram
        |  FROM (SELECT string_split(text, ' ') AS words,
        |               unnest(generate_series(1,
        |                 len(string_split(text, ' ')) - 4)) AS i
        |        FROM documents WHERE doc_id % 97 = 0)),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
        |    FROM (SELECT doc_id, string_split(text, ' ') AS words,
        |                 unnest(generate_series(1,
        |                   len(string_split(text, ' ')) - 4)) AS i
        |          FROM f2 WHERE nd AND doc_id % 97 <> 0))
        |  WHERE gram IN (SELECT gram FROM bench)),
        |f3 AS (SELECT f2.*, (nd AND f2.doc_id % 97 <> 0
        |                     AND contam.doc_id IS NULL) AS dc
        |       FROM f2 LEFT JOIN contam USING (doc_id)),
        |cumt AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(sum(n_tokens) OVER (
        |           ORDER BY md5('matsample:' || CAST(doc_id AS VARCHAR)),
        |                    doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM f3 WHERE dc),
        |picked AS (
        |  SELECT doc_id FROM cumt
        |  WHERE cum // ${Curation.TokenStride}
        |        > (cum - n_tokens) // ${Curation.TokenStride}),
        |f4 AS (SELECT f3.*, (dc AND picked.doc_id IS NOT NULL) AS sm
        |       FROM f3 LEFT JOIN picked USING (doc_id)),
        |stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_all,
        |         CAST(count(*) FILTER (g) AS BIGINT) AS n_g,
        |         CAST(sum(n_tokens) FILTER (g) AS BIGINT) AS t_g,
        |         CAST(count(*) FILTER (e) AS BIGINT) AS n_e,
        |         CAST(sum(n_tokens) FILTER (e) AS BIGINT) AS t_e,
        |         CAST(count(*) FILTER (nd) AS BIGINT) AS n_nd,
        |         CAST(sum(n_tokens) FILTER (nd) AS BIGINT) AS t_nd,
        |         CAST(count(*) FILTER (dc) AS BIGINT) AS n_dc,
        |         CAST(sum(n_tokens) FILTER (dc) AS BIGINT) AS t_dc,
        |         CAST(count(*) FILTER (sm) AS BIGINT) AS n_sm,
        |         CAST(sum(n_tokens) FILTER (sm) AS BIGINT) AS t_sm
        |  FROM f4),
        |binned AS (
        |  SELECT doc_id // 1000 AS shard, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |             PARTITION BY doc_id // 1000 ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS BIGINT) // $PackBudget AS bin
        |  FROM f4 WHERE sm),
        |packs AS (
        |  SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n_bins,
        |         CAST(coalesce(sum(bt), 0) AS BIGINT) AS t_packed
        |  FROM (SELECT shard, bin, sum(n_tokens) AS bt
        |        FROM binned GROUP BY shard, bin))
        |SELECT stage, rows_in, rows_out, tokens_out FROM (
        |  SELECT '1_gate' AS stage, n_all AS rows_in, n_g AS rows_out,
        |         coalesce(t_g, 0) AS tokens_out FROM stats
        |  UNION ALL SELECT '2_exact_dedup', n_g, n_e, coalesce(t_e, 0)
        |  FROM stats
        |  UNION ALL SELECT '3_near_dedup', n_e, n_nd, coalesce(t_nd, 0)
        |  FROM stats
        |  UNION ALL SELECT '4_decontaminate', n_nd, n_dc,
        |    coalesce(t_dc, 0) FROM stats
        |  UNION ALL SELECT '5_token_sample', n_dc, n_sm,
        |    coalesce(t_sm, 0) FROM stats
        |  UNION ALL SELECT '6_pack', n_sm, n_bins, t_packed
        |  FROM stats, packs)
        |ORDER BY stage""".stripMargin
    }))
}
