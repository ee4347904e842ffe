package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnnIncremental, AnnIndex, AnnRetrieval, Curation, Curation2, CurationHardening, Dedup, DedupClusters, DedupEmbedding, Drift, Expectations, Multimodal, Graph, Graph2, Materialize, Relational, Similarity, SketchAlgebra, Skew, StorageLayout, TextEncode, TextOps, TimeSeries, TimeSeries2, TrainingPipeline, XmlShred}
import graft.operators.{Affinity, Audit, Calibration, Contribution, Coreset, CrossCorr, Cuped, Evaluation, Evaluation2, ExactSubstr, Experiment, FeaturePrep, Governance, Graph3, Hierarchy, InfoTheory, InvertedIndex, Keyphrase, Lifecycle, Linkage, MaxCover, Mmr, Pca, SessionState, TextProfile, Vocabulary}
import graft.streaming.Streams

/** One registered query: its name, the engine's DataFrame program
  * `(SparkSession, sfDir) => DataFrame`, and the equivalent DuckDB SQL
  * over the same parquet tables. A query cannot exist without an oracle. */
final case class QueryDef(name: String,
    run: (SparkSession, String) => DataFrame, oracle: String)

/** Query registry — the contract of SURVEY.md §7.
  *
  * Central registry: each operator module contributes a `defs:
  * Seq[QueryDef]`, and [[all]] names each module once. [[queries]] and
  * [[oracleSql]] are derived from it. Every query orders its output
  * totally and rounds money to cents so the oracle hash compare is
  * deterministic (SURVEY.md §5.2).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q07Top5Reps(spark, "/root/testdata/sf0.001")

  /** Every registered query, one entry per implemented operator from SURVEY.md §2. */
  lazy val all: Seq[QueryDef] =
    Relational.defs ++
      Dedup.defs ++ DedupEmbedding.defs ++ DedupClusters.defs ++
      TextOps.defs ++ TextEncode.defs ++ Similarity.defs ++ AnnIndex.defs ++
      AnnRetrieval.defs ++ AnnIncremental.defs ++
      Multimodal.defs ++ Streams.defs ++ XmlShred.defs ++
      TrainingPipeline.defs ++ Materialize.defs ++ Curation.defs ++ Curation2.defs ++ CurationHardening.defs ++ SketchAlgebra.defs ++ Skew.defs ++
      StorageLayout.defs ++ Graph.defs ++ Graph2.defs ++ Drift.defs ++ TimeSeries.defs ++ TimeSeries2.defs ++ InvertedIndex.defs ++ Governance.defs ++ Hierarchy.defs ++ Pca.defs ++ MaxCover.defs ++ Experiment.defs ++ SessionState.defs ++ Cuped.defs ++ Calibration.defs ++ Expectations.defs ++ Audit.defs ++ Affinity.defs ++ Lifecycle.defs ++ Contribution.defs ++ FeaturePrep.defs ++ Linkage.defs ++ ExactSubstr.defs ++ Evaluation.defs ++ Evaluation2.defs ++ CrossCorr.defs ++ Mmr.defs ++ Vocabulary.defs ++ InfoTheory.defs ++ Coreset.defs ++ Graph3.defs ++ Keyphrase.defs ++ TextProfile.defs

  /** `defs` keyed by name; refuses a name registered more than once. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, "query names registered more than once: " +
      dups.toSeq.sorted.mkString(", "))
    defs.map(d => d.name -> d).toMap
  }

  private lazy val byName: Map[String, QueryDef] = index(all)

  /** The queries named by `patterns`, each an exact name or a prefix
    * (`q37_`), in pattern order without repeats; no pattern selects
    * every query in registry order. Every dev main resolves names here,
    * so a pattern that matches nothing fails the run and is named. */
  def select(patterns: Seq[String]): Seq[QueryDef] = {
    val unmatched = patterns.filterNot(p => all.exists(_.name.startsWith(p)))
    require(unmatched.isEmpty,
      "no registered query matches: " + unmatched.mkString(", "))
    if (patterns.isEmpty) all
    else patterns.flatMap(p => all.filter(_.name.startsWith(p))).distinct
  }

  /** name -> DataFrame program, for every registered query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, d) => n -> d.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    byName.map { case (n, d) => n -> d.oracle }
}
