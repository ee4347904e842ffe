package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Public facade of the graft engine — the surface a user of the
  * reference pipeline (or of a training-data curation stack) programs
  * against. Everything delegates to the operator modules; every
  * operation is a declarative DataFrame transform registered in
  * [[SparkEntry]] with a DuckDB differential oracle.
  *
  * Session setup is required, once per session: build it with
  * `SparkSession.builder.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` or call [[registerFunctions]] on it.
  * Either installs the native functions (`graft_dot`, ...), the
  * optimizer rules and the planner strategies (the as-of join, the
  * one-partition sort of small ordered results, and the exchange-free
  * plan above a one-split file scan); no entry point below
  * sets anything up on the session it is given. Also put
  * [[DevSession.StaticConfs]] on the builder (`.config(StaticConfs)`):
  * each is read once, before any query runs, so [[registerFunctions]]
  * cannot set them. They size Spark's codegen class cache to
  * [[DevSession.CodegenCacheEntries]] (at Spark's default of 100 a mix
  * of more than a few queries recompiles its generated code on every
  * run), and route `file://` through [[sources.LocalFs]] (without it,
  * every file a stream checkpoint or parquet write creates forks a
  * `chmod`; docs/SCALE.md).
  */
object Graft {

  // ---- reference pipeline (pharma stages 1-3) ----

  /** Stage 1: pharma XML documents -> (salestxn, reps, products,
    * customers) staging frames. */
  def pharmaStage1(repsDoc: DataFrame, txnDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    pharma.PharmaIngest.stage1(repsDoc, txnDocs)

  /** Stage 2 fact builds + stage 3 analytics live in
    * [[pharma.PharmaWarehouse]] (productFacts/repFacts, dwQ1..dwQ4,
    * rmdQ1/rmdQ2), golden-matched to the reference's shipped data. */
  def pharmaWarehouse: pharma.PharmaWarehouse.type = pharma.PharmaWarehouse

  // ---- custom relational operators ----

  /** Native as-of join (custom LogicalPlan/Strategy/Exec): for each left
    * row, the right row with equal keys and greatest rightTime <=
    * leftTime (`direction = "backward"`, default) or smallest rightTime
    * >= leftTime (`"forward"`); unmatched rows null-extend.
    * `toleranceMicros` bounds the accepted gap (merge_asof semantics;
    * units of the time column's internal representation — microseconds
    * for timestamps). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      toleranceMicros: Option[Long] = None,
      direction: String = "backward"): DataFrame =
    plans.AsofJoin.asofJoin(left, right, leftKeys, rightKeys,
      leftTime, rightTime, toleranceMicros, direction)

  /** Install graft's session setup on a running session (idempotent;
    * skips what the extension config already injected). */
  def registerFunctions(spark: SparkSession): Unit =
    plans.GraftExtensions.install(spark)

  // ---- LLM-data-pipeline operators (over a `documents`-shaped dir) ----

  /** Exact dedup: canonical id + group size per document. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.q31DedupExact(spark, dir)

  /** MinHash+LSH candidate near-dup pairs ranked by shared bands. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.q32DedupMinhash(spark, dir)

  /** Near-dup pairs with exact Jaccard >= 0.8 (length-pruned). */
  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    operators.Dedup.q34DedupNgramJaccard(spark, dir)

  /** Connected components over the near-dup pair graph: one canonical
    * survivor per cluster. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    operators.DedupClusters.q73DedupClusters(spark, dir)

  /** Exact cosine top-k neighbors for the query subset. */
  def annBruteTopK(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.q36AnnBruteTopK(spark, dir)

  /** LSH-bucketed approximate top-k (recall-contracted vs brute). */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    operators.Similarity.lshTopK(spark, dir)

  /** IVF-bucketed approximate top-k. */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    operators.AnnIndex.ivfTopK(spark, dir)

  /** SemDeDup drop list: vectors with a lower-id semantic duplicate
    * (cosine >= 0.4) inside their IVF blocking cells, with witnesses. */
  def semanticDedupDrops(spark: SparkSession, dir: String): DataFrame =
    operators.AnnRetrieval.semanticDrops(spark, dir)

  /** Corpus curation: boilerplate strip, PII scrub, contamination,
    * repetition score, stratified sample, vocabulary. */
  def curation: operators.Curation.type = operators.Curation

  /** Text analysis: language id, quality score, token count,
    * fingerprinting. */
  def textOps: operators.TextOps.type = operators.TextOps

  /** Streaming transforms (shared batch/stream): windows, sessions,
    * stateful dedup, interval join, mapGroupsWithState. */
  def streams: streaming.Streams.type = streaming.Streams
}
