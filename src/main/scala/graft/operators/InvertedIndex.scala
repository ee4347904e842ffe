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
  *
  * Also here: query-likelihood retrieval with Dirichlet smoothing (q374).
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

  /** q374 Dirichlet pseudo-count μ (declared smoothing policy). */
  private[graft] val QlMu = 100L

  /** q374 — QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing
    * (Zhai & Lafferty; see PAPERS.md): score(d) = Σ_w∈Q ln((tf_{w,d}
    * + μ·ctf_w/T) / (dl_d + μ)) — the language-modeling complement of
    * q96's BM25 (tf-saturation heuristic) and q111's per-doc
    * surprisal (no query): EVERY document scores, absent terms paying
    * the collection-probability floor, which is what makes LM
    * retrieval robust for short queries. Query = the corpus's top-3
    * terms by (df DESC, word), the q96 data-derived convention.
    *
    * Exactness: each per-term log is ln of a single division of exact
    * BIGINTs ((tf·T + μ·ctf) / ((dl+μ)·T)), micro-quantized to BIGINT
    * per term BEFORE the per-doc sum (the q169/q198 fold discipline —
    * no float ever crosses rows), with the parenthesization mirrored
    * verbatim in the oracle.
    *
    * Scale shape: the per-(doc, term) frame is |docs|·|Q| rows built
    * from one doc-length profile × a broadcast 3-row query table,
    * left-joined to the query terms' postings (a term-keyed slice of
    * the cached [[TextOps.termFreqs]] table); global top-20 via
    * TakeOrderedAndProject, rank over the 20 survivors via
    * [[DistributedRank.withGlobalRank]] (plan stays window-free). */
  def q374QueryLikelihood(spark: SparkSession, dir: String): DataFrame = {
    val tf = TextOps.termFreqs(spark, dir)
    val docLen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val ctf = tf.groupBy("word").agg(sum(col("tf")).as("ctf"))
    val totals = ctf.agg(sum(col("ctf")).as("t_tokens"))
    val qterms = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("word")).limit(3)
      .join(ctf, Seq("word")).select("word", "ctf")
    val matched = tf.join(broadcast(qterms.select("word")), Seq("word"))
    val scored = docLen.crossJoin(broadcast(qterms))
      .join(matched, Seq("doc_id", "word"), "left")
      .na.fill(0L, Seq("tf"))
      .crossJoin(broadcast(totals))
      .withColumn("s_micro", expr(
        s"""cast(round(ln(cast(tf * t_tokens + $QlMu * ctf as double)
           |  / cast((dl + $QlMu) * t_tokens as double)) * 1e6, 0)
           |as bigint)""".stripMargin))
      .groupBy("doc_id")
      .agg(sum(col("s_micro")).as("score_micro"),
        sum(col("tf")).as("n_matched_tokens"))
    val top = scored.orderBy(desc("score_micro"), asc("doc_id")).limit(20)
    DistributedRank.withGlobalRank(top, "rank_l",
        desc("score_micro"), asc("doc_id"))
      .select(col("rank_l").cast("int").as("rank"), col("doc_id"),
        round(col("score_micro").cast("double") / 1e6, 6).as("ql_score"),
        col("n_matched_tokens"))
      .orderBy("rank")
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
        |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin),
    QueryDef("q374_query_likelihood", q374QueryLikelihood _,
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY 1),
        |ctf AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ctf
        |        FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_tokens FROM ctf),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1),
        |q AS (SELECT d.word, c.ctf FROM dfq d JOIN ctf c USING (word)
        |      ORDER BY d.df DESC, d.word LIMIT 3),
        |scored AS (
        |  SELECT dl.doc_id,
        |         CAST(sum(CAST(round(ln(
        |             CAST(coalesce(m.tf, 0) * t.t_tokens
        |                  + $QlMu * q.ctf AS DOUBLE)
        |             / CAST((dl.dl + $QlMu) * t.t_tokens AS DOUBLE))
        |           * 1e6, 0) AS BIGINT)) AS BIGINT) AS score_micro,
        |         CAST(sum(coalesce(m.tf, 0)) AS BIGINT)
        |           AS n_matched_tokens
        |  FROM dl CROSS JOIN q CROSS JOIN tot t
        |  LEFT JOIN tf m ON m.doc_id = dl.doc_id AND m.word = q.word
        |  GROUP BY 1),
        |top AS (SELECT * FROM scored
        |        ORDER BY score_micro DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
        |            AS INTEGER) AS rank,
        |       doc_id,
        |       round(CAST(score_micro AS DOUBLE) / 1e6, 6) AS ql_score,
        |       n_matched_tokens
        |FROM top ORDER BY rank""".stripMargin))
}
