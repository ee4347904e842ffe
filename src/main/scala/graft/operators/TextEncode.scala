package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] distributed BPE ENCODE (q149) — the production counterpart of
  * q137's tokenizer training: apply the trained merge table to every
  * document and report corpus token accounting. Training happens once;
  * encoding runs on every batch forever, so its scale shape is the one
  * that matters:
  *
  *   - merges apply at VOCABULARY granularity, never per word
  *     instance: each distinct word is segmented once (the merge chain
  *     folds over a table that is orders of magnitude smaller than the
  *     corpus) and instances pick up their token count by a hash join
  *     on the word — the same histogram discipline that makes the
  *     training side tractable at 100 TB;
  *   - the merge table is a broadcast-scale driver value (16 rows
  *     here; ~50k in production), applied as codegen'd fold lambdas;
  *   - per-document accounting is one groupBy over the word-instance
  *     join — no shuffle wider than the corpus scan itself.
  *
  * Correctness is triangulated (the q137 pattern for iterative ops SQL
  * cannot reach): the corpus-side counts (docs, words, pre-merge
  * tokens) are EXACT in the DuckDB oracle; the encoded totals are
  * pinned by (a) the cross-path law that per-document encoding must
  * sum to the training histogram's post-merge token count — two
  * independent engine paths over different groupings — and (b) the
  * spec's sequential Scala re-encode of sample documents. */
object TextEncode {

  /** Per-document token accounting under the trained tokenizer,
    * exposed for the spec's independent re-encode. Encoding folds the
    * cached merge chain over the DISTINCT-word vocabulary (one
    * localCheckpoint per merge, the bpeTrain discipline), then joins
    * instances back. */
  private[graft] def encodedPerDoc(spark: SparkSession,
      dir: String): DataFrame = {
    val (merges, _, _) = TextOps.bpeCached(spark, dir)
    val docWords = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    var vocab = docWords.select("w").distinct()
      .withColumn("syms", split(col("w"), ""))
      .localCheckpoint()
    for ((_, l, r, _) <- merges)
      vocab = vocab.withColumn("syms", TextOps.applyMerge(col("syms"), l, r))
        .localCheckpoint()
    docWords
      .join(vocab.select(col("w"), size(col("syms")).as("n_toks")),
        Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("tokens_before"),
        sum(col("n_toks")).as("n_tokens"))
  }

  /** q149 — corpus encode summary: exact corpus-side counts plus the
    * two laws (encode total equals the training histogram total;
    * merging compressed the corpus). */
  def q149BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, afterFromTraining) = TextOps.bpeCached(spark, dir)
    encodedPerDoc(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_words"),
      sum(col("tokens_before")).as("tokens_before"),
      sum(col("n_tokens")).as("ta"))
      .select(col("n_docs"), col("n_words"), col("tokens_before"),
        (col("ta") === afterFromTraining).as("encode_matches_histogram"),
        (col("ta") < col("tokens_before")).as("compressed"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q149_bpe_encode", q149BpeEncode _,
      """WITH ww AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE len(w) > 0)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(sum(len(w)) AS BIGINT) AS tokens_before,
        |       TRUE AS encode_matches_histogram,
        |       TRUE AS compressed
        |FROM ww""".stripMargin))
}
