package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] positional inverted index + exact phrase retrieval (q157) —
  * the index-side complement of the scoring retrievers (q96 BM25, q120
  * hybrid RRF): those rank documents by bag-of-words statistics; a
  * PHRASE query ("w1 w2" adjacent, in order) needs token POSITIONS,
  * which is exactly what a positional inverted index stores.
  *
  * Index layout: one (word, doc_id, pos) posting row per token — the
  * classic Lucene-shape positions list, here a flat DataFrame. The
  * build is a narrow posexplode (no shuffle); at 100 TB the index is
  * persisted bucketed/partitioned BY WORD (the q133 serving-layout
  * pattern), so a phrase query reads only its terms' posting lists —
  * the query cost scales with posting-list length, never corpus size.
  *
  * Phrase match: postings(w1) ⋈ postings(w2) on (doc_id, pos+1) — the
  * standard positional-intersection algorithm, one equi-join keyed on
  * (doc_id, pos), intersection size bounded by the SHORTER posting
  * list. The demo phrase is data-derived (the corpus's most frequent
  * adjacent bigram, count-desc/lexicographic tie-break — deterministic
  * under repartitioning); a production query with literal terms would
  * push `word = 'w1'` into the index scan as a partition filter.
  */
object InvertedIndex {

  /** The positional index: one (word, doc_id, pos) row per token
    * occurrence, pos 0-based within its document. Checkpointed: q157
    * reads it four times (both sides of the bigram count and of the
    * phrase match). */
  private[graft] def postings(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), " ")).as(Seq("pos", "word")))
      .localCheckpoint()

  /** q157 — exact phrase search via positional intersection: the most
    * frequent adjacent bigram in the corpus (the data-derived query),
    * matched by joining its two terms' posting lists on
    * (doc_id, pos + 1); per matching document the occurrence count
    * (overlaps included — "a a a" contains "a a" twice) and the first
    * match position. Top-20 by (occurrences DESC, doc_id) — integer
    * counts end-to-end, nothing to round. */
  def q157PhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = postings(spark, dir)
    // data-derived phrase: corpus-top adjacent bigram, deterministic
    // tie-break; computed from the same checkpointed index by self-join
    // (the identical positional intersection the query itself runs)
    val bigramCounts = idx.alias("x")
      .join(idx.alias("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("y.pos") === col("x.pos") + 1)
      .groupBy(col("x.word").as("w1"), col("y.word").as("w2"))
      .agg(count(lit(1)).as("c"))
    val top = bigramCounts.orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(1).select("w1", "w2")
    val p1 = idx.join(broadcast(top), col("word") === col("w1"))
      .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
    val p2 = idx.select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
      col("word").as("word2"))
    p1.join(p2,
        col("doc_id2") === col("doc_id") && col("pos2") === col("pos") + 1 &&
          col("word2") === col("w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("n_occurrences"), min(col("pos")).as("first_pos"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(20)
      .select("w1", "w2", "doc_id", "n_occurrences", "first_pos")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q157_phrase_search", q157PhraseSearch _,
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, words[i] AS word
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')))) AS i
        |        FROM documents)),
        |bg AS (
        |  SELECT x.word AS w1, y.word AS w2, count(*) AS c
        |  FROM toks x JOIN toks y
        |    ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
        |  GROUP BY 1, 2),
        |top AS (SELECT w1, w2 FROM bg ORDER BY c DESC, w1, w2 LIMIT 1),
        |hits AS (
        |  SELECT p1.doc_id, count(*) AS n_occurrences,
        |         CAST(min(p1.pos) AS INTEGER) AS first_pos
        |  FROM toks p1
        |  JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |  CROSS JOIN top
        |  WHERE p1.word = top.w1 AND p2.word = top.w2
        |  GROUP BY 1)
        |SELECT (SELECT w1 FROM top) AS w1, (SELECT w2 FROM top) AS w2,
        |       doc_id, n_occurrences, first_pos
        |FROM hits
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin))
}
