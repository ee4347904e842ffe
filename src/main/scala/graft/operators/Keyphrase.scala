package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] keyphrase extraction (q270): RAKE (Rapid Automatic Keyword
  * Extraction, Rose et al. 2010 — PAPERS.md) over the document corpus —
  * the PHRASE-level vocabulary view the word-level text family can't
  * give: q69's vocab counts words, q86's TF-IDF weights words per doc,
  * q123's PMI scores word PAIRS; RAKE surfaces the multi-word domain
  * terms ("machine translation quality") that no single-word statistic
  * ranks, which is what a corpus card (q215) or topic labeling pass
  * actually wants.
  *
  * Method: candidate phrases are maximal runs of non-stopword tokens
  * (gaps-and-islands on token position — one window PARTITIONED BY
  * doc), capped at [[MaxPhraseLen]] words (declared; uncapped RAKE
  * keeps junk runs). Word score = degree/frequency over candidate
  * occurrences (degree counts co-occurrence within a phrase, including
  * self), phrase score = Σ word scores.
  *
  * Exactness: degree and frequency are exact counts; each word score
  * is ONE division micro-quantized before the per-phrase sum; a
  * phrase's score depends only on its words, so identical phrase text
  * always folds to identical score and the cross-doc dedup is exact.
  * Tokenization (lowercase, split on non-alphanumeric runs) and the
  * stopword list are mirrored literally in the oracle.
  *
  * Scale shape: tokenize → per-doc island window → two vocab-grain
  * folds (word stats, phrase scores) → global top-[[RakeTopK]]
  * (TakeOrderedAndProject). No window ever crosses documents; the
  * vocab join is content-keyed. */
object Keyphrase {

  /** Pinned stopword list (function words only — mirrored in SQL). */
  private[graft] val Stopwords: Seq[String] =
    ("a an and are as at be but by for from had has have he her his i " +
      "if in is it its my no not of on or our she so that the their " +
      "them they this to was we were will with you your")
      .split(" ").toSeq

  /** Candidate-phrase word cap (declared RAKE variant). */
  private[graft] val MaxPhraseLen = 4

  /** Phrases reported. */
  private[graft] val RakeTopK = 20

  /** q270 — top-[[RakeTopK]] RAKE keyphrases: phrase, word count,
    * corpus occurrence count, score. */
  def q270RakeKeyphrases(spark: SparkSession, dir: String): DataFrame = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+"))
          .as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0 &&
        !expr(s"tok IN ($stopList)"))
    val wIsl = Window.partitionBy("doc_id").orderBy("pos")
    val isl = toks.withColumn("grp",
      col("pos") - row_number().over(wIsl))
    val phrases = isl.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("len"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, tok))), x -> x.tok), ' ')").as("phrase"))
      .filter(col("len") <= MaxPhraseLen)
    val occ = isl.join(phrases.select("doc_id", "grp", "len"),
      Seq("doc_id", "grp"))
    val wm = occ.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("tok"), expr(
        "cast(round(cast(deg as double) * 1e6 / cast(freq as double)," +
          " 0) as bigint)").as("w_micro"))
    val occScore = occ.join(wm, Seq("tok"))
      .groupBy("doc_id", "grp")
      .agg(sum(col("w_micro")).as("score_micro"))
    occScore.join(phrases, Seq("doc_id", "grp"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max(col("len")).as("n_words"),
        max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(RakeTopK)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("score_micro").cast("double") / 1e6, 6)
          .as("rake_score"))
      .orderBy(col("rake_score").desc, col("phrase"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q270_rake_keyphrases", q270RakeKeyphrases _,
      {
      val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH raw AS (
        |  SELECT doc_id,
        |         string_split_regex(lower(text), '[^a-z0-9]+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t,
        |         unnest(generate_series(1, len(t))) AS pos
        |  FROM raw),
        |toks AS (
        |  SELECT doc_id, pos, t[pos] AS tok
        |  FROM idx
        |  WHERE t[pos] <> '' AND t[pos] NOT IN ($stopList)),
        |isl AS (
        |  SELECT doc_id, pos, tok,
        |         pos - row_number() OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS grp
        |  FROM toks),
        |phrases AS (
        |  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len,
        |         string_agg(tok, ' ' ORDER BY pos) AS phrase
        |  FROM isl GROUP BY 1, 2),
        |kept AS (SELECT * FROM phrases WHERE len <= $MaxPhraseLen),
        |occ AS (
        |  SELECT i.tok, i.doc_id, i.grp, k.len
        |  FROM isl i JOIN kept k
        |    ON k.doc_id = i.doc_id AND k.grp = i.grp),
        |wm AS (
        |  SELECT tok,
        |         CAST(round(CAST(sum(len) AS DOUBLE) * 1e6
        |           / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS w_micro
        |  FROM occ GROUP BY 1),
        |oscore AS (
        |  SELECT o.doc_id, o.grp,
        |         CAST(sum(w.w_micro) AS BIGINT) AS score_micro
        |  FROM occ o JOIN wm w ON w.tok = o.tok GROUP BY 1, 2),
        |scored AS (
        |  SELECT k.phrase,
        |         CAST(count(*) AS BIGINT) AS n_occurrences,
        |         CAST(max(k.len) AS BIGINT) AS n_words,
        |         CAST(max(s.score_micro) AS BIGINT) AS score_micro
        |  FROM oscore s JOIN kept k
        |    ON k.doc_id = s.doc_id AND k.grp = s.grp
        |  GROUP BY 1)
        |SELECT phrase, n_words, n_occurrences,
        |       round(CAST(score_micro AS DOUBLE) / 1e6, 6) AS rake_score
        |FROM scored
        |ORDER BY score_micro DESC, phrase LIMIT $RakeTopK""".stripMargin
    }))
}
