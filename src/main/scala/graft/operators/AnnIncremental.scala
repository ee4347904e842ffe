package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables
import Similarity.{QselCte, TopK, onlyQueries, simCol, avgRecallContract}

/** [EXT] incremental IVF index maintenance (q148): the day-2 problem
  * every production ANN deployment hits — a new batch of embeddings
  * lands and must become searchable WITHOUT retraining the quantizer
  * or re-assigning the existing corpus. The standard answer (what IVF
  * deployments do between periodic full rebuilds) is: freeze the
  * centroids, assign only the new batch to its nearest cells, append
  * to the inverted lists. Recall degrades gracefully as the data
  * distribution drifts from the training snapshot; the rebuild cadence
  * is a monitored trade-off, and this query IS that monitor — it
  * serves queries over the merged index and reports the recall
  * contract against exact brute force on the full corpus.
  *
  * The [[Curation]] §incremental discipline applied to vectors: the
  * base corpus' assignment table is never recomputed (at 100 TB it is
  * a bucketed-by-cell layout on disk, per q133); per day the work is
  * O(batch x cells) assignment + an append — corpus-size-independent.
  */
object AnnIncremental {

  /** Delta split: vec_id % DeltaMod == DeltaResidue is "today's
    * batch" (~20%), the rest is the base corpus the quantizer trained
    * on. Residue 1 (not 0) keeps the base DISJOINT from the quantizer
    * seed stride (multiples of the Lloyd seed stride are ≡ 0 mod 5 at
    * these corpus sizes): carving the delta out of residue 0 would
    * silently empty the seed set — the spec pins a non-empty quantizer
    * and incrementalTopK requires it loudly. */
  private[graft] val DeltaMod = 5
  private[graft] val DeltaResidue = 1

  /** Same avg-recall floor as q52: the base-trained quantizer must
    * keep clearing the full-retrain contract on the merged corpus —
    * the measurable definition of "the rebuild can wait". */
  private val RecallFloor = 0.5

  /** The frozen quantizer: Lloyd-trained on the BASE corpus only,
    * checkpointed (the probe width, the probes and the merged assignment
    * all read it). Exposed for the spec's independent argmax pin. */
  private[graft] def baseCentroids(spark: SparkSession,
      dir: String): DataFrame = {
    val base = AnnIndex.normedVecs(spark, dir)
      .filter(col("vec_id") % DeltaMod =!= DeltaResidue)
    AnnIndex.lloydCentroids(base, base.count()).localCheckpoint()
  }

  /** Merged inverted-file assignment: base vectors under the
    * base-trained (frozen) centroids, plus the delta batch assigned to
    * the SAME frozen centroids — the incremental append. Exposed for
    * the spec's integrity laws. */
  private[graft] def mergedAssignment(spark: SparkSession,
      dir: String): DataFrame =
    assignToFrozen(spark, dir, baseCentroids(spark, dir))

  /** [[mergedAssignment]] against given frozen `centroids`,
    * checkpointed: q148 reads it twice (integrity counts, probes). */
  private def assignToFrozen(spark: SparkSession, dir: String,
      centroids: DataFrame): DataFrame = {
    val all = AnnIndex.normedVecs(spark, dir)
    val base = all.filter(col("vec_id") % DeltaMod =!= DeltaResidue)
    val delta = all.filter(col("vec_id") % DeltaMod === DeltaResidue)
    // two independent one-cell assignments against the same frozen
    // broadcast centroid set: at scale the base half already exists
    // on disk and only the delta job runs per batch
    AnnIndex.nearestCells(base, centroids, 1, "crank")
      .unionByName(AnnIndex.nearestCells(delta, centroids, 1, "crank"))
      .select(col("vec_id").as("cid"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("cent_id").as("cell"))
      .localCheckpoint()
  }

  private def incrementalTopK(spark: SparkSession, dir: String,
      centroids: DataFrame, merged: DataFrame): DataFrame = {
    val all = AnnIndex.normedVecs(spark, dir)
    val nCells = centroids.count()
    require(nCells > 0,
      s"empty incremental-IVF quantizer for $dir: no Lloyd seeds in base")
    val nprobe = AnnIndex.ivfNprobe(nCells, AnnIndex.IvfProbeScale,
      AnnIndex.ProbeFloor)
    val probes = AnnIndex.nearestCells(
      onlyQueries(spark, dir, all), centroids, nprobe,
      "prank")
      .select(col("vec_id").as("qid"), col("embedding").as("ea"),
        col("nrm").as("na"), col("cent_id").as("cell"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), asc("cid"))
    probes.join(merged, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), simCol)
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
  }

  /** q148 — the incremental index's health row: corpus split sizes,
    * the append-integrity flag (every vector searchable exactly once
    * after the merge), and the avg-recall contract of queries served
    * over the merged index vs exact brute force on the FULL corpus
    * (delta rows must be findable, not just stored). */
  def q148AnnIncremental(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val counts = all.agg(
      sum(when(col("vec_id") % DeltaMod =!= DeltaResidue, 1L).otherwise(0L))
        .as("n_base"),
      sum(when(col("vec_id") % DeltaMod === DeltaResidue, 1L).otherwise(0L))
        .as("n_delta"),
      count(lit(1)).as("n_corpus"))
    val centroids = baseCentroids(spark, dir)
    val merged = assignToFrozen(spark, dir, centroids)
    val assigned = merged
      .agg(count(lit(1)).as("n_assigned"),
        countDistinct(col("cid")).as("n_assigned_distinct"))
    val contract = avgRecallContract(spark, dir,
      incrementalTopK(spark, dir, centroids, merged), RecallFloor)
    counts.crossJoin(broadcast(assigned)).crossJoin(broadcast(contract))
      .select(col("n_queries"), col("n_base"), col("n_delta"),
        (col("n_assigned") === col("n_corpus") &&
          col("n_assigned_distinct") === col("n_corpus"))
          .as("merge_integrity_ok"),
        col("avg_recall_ok"))
  }

  /** Contract-style oracle (the q52/q113/q114 pattern): the split
    * sizes and query count are exact SQL; the recall and integrity
    * flags are engine-side contracts asserted TRUE. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q148_ann_incremental", q148AnnIncremental _,
      s"""WITH $QselCte
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM qsel) AS n_queries,
        |       CAST(count(CASE WHEN vec_id % $DeltaMod != $DeltaResidue THEN 1 END)
        |            AS BIGINT) AS n_base,
        |       CAST(count(CASE WHEN vec_id % $DeltaMod = $DeltaResidue THEN 1 END)
        |            AS BIGINT) AS n_delta,
        |       TRUE AS merge_integrity_ok,
        |       TRUE AS avg_recall_ok
        |FROM embeddings""".stripMargin))
}
