package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] exact-substring duplication detection (q204) — the
  * complement of set-based near-dup (q32/q34) and containment (q158):
  * find documents sharing a LONG VERBATIM RUN of words, the "50-token
  * exact substring" criterion training-data dedup pipelines apply
  * because verbatim runs are what a model memorizes, even when the
  * documents' overall shingle sets look dissimilar (a long quote
  * inside two otherwise-unrelated pages).
  *
  * Algorithm (the scalable suffix-array alternative): hash every
  * [[ExactSubstr.W]]-word rolling window per document, equi-join
  * windows ACROSS documents on the hash (a content-key shuffle — the
  * q32 band-join class, never pairwise over the corpus), then merge
  * hits into maximal runs with gaps-and-islands per (pair, alignment
  * offset): window positions matching at the same offset idx1 − idx2
  * and consecutive in idx1 form one verbatim run of
  * (run_windows + W − 1) words. Report each pair's longest run.
  *
  * Scale shape: the window table is ~one row per token (the token
  * table a tokenizer already materializes); the only shuffle joins on
  * the 60-bit window hash, so cost is corpus + Σ bucket² over
  * REPEATED windows only — unique windows (the overwhelming mass of
  * natural text at W = 8) join nothing. Mass-duplicate corpora pay
  * the same twins blow-up as q158, with the same registered
  * mitigation: exact dedup first (q202's order), substring detection
  * over survivors. The islands pass runs per (id1, id2, offset)
  * partition — bounded by the matched-window count, not the corpus.
  *
  * Determinism: window hashes are md5 prefixes (engine-portable, the
  * q32 convention); runs/lengths are exact integers; ordering is
  * pinned with full tie-breaks. */
object ExactSubstr {

  /** Window length in words: two windows agreeing ⇒ ≥ W verbatim
    * words; a run of k consecutive windows ⇒ k + W − 1 words. */
  private[graft] val W = 8

  /** Minimum windows in a reported run (2 ⇒ ≥ 9 verbatim words). */
  private[graft] val MinRunWindows = 2

  private[graft] val TopPairs = 50

  /** The per-document rolling window-hash table. */
  private[graft] def windows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= W)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(ws) - ${W - 1}),
           |  i -> struct(i AS idx,
           |              md5(concat_ws(' ', slice(ws, i, $W))) AS wh))
           |""".stripMargin)).as("w"))
      .select(col("doc_id"), col("w.idx").as("idx"), col("w.wh").as("wh"))

  /** q204 — longest cross-document verbatim run per document pair;
    * see the module doc. */
  def q204ExactSubstr(spark: SparkSession, dir: String): DataFrame =
    pairRuns(windows(Tables.documents(spark, dir)))
      .orderBy(col("longest_run_words").desc, col("id1"), col("id2"))
      .limit(TopPairs)

  /** Cross-doc hits -> maximal runs -> per-pair best (pre-limit). */
  private[graft] def pairRuns(wins: DataFrame): DataFrame = {
    val hits = wins.select(col("doc_id").as("id1"), col("idx").as("idx1"),
        col("wh"))
      .join(wins.select(col("doc_id").as("id2"), col("idx").as("idx2"),
        col("wh")), Seq("wh"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("idx1"),
        (col("idx1") - col("idx2")).as("off"))
    // gaps-and-islands at fixed alignment offset: consecutive idx1
    // values share (idx1 - row_number) within the partition
    val wOrd = Window.partitionBy("id1", "id2", "off").orderBy("idx1")
    val runs = hits
      .withColumn("grp", col("idx1") - row_number().over(wOrd))
      .groupBy("id1", "id2", "off", "grp")
      .agg(count(lit(1)).as("run_windows"), min(col("idx1")).as("start1"))
    runs.filter(col("run_windows") >= MinRunWindows)
      .groupBy("id1", "id2")
      .agg(max(struct(col("run_windows"), col("off") * -1,
          col("start1") * -1)).as("best"),
        count(lit(1)).as("n_runs"),
        sum(col("run_windows")).as("n_shared_windows"))
      .select(col("id1"), col("id2"),
        (col("best.run_windows") + lit(W - 1)).as("longest_run_words"),
        col("n_runs"), col("n_shared_windows"))
  }

  /** q219 — SPAN EXCISION audit (the ACTION q204's detection feeds —
    * published exact-substring training-data dedup excises repeated
    * spans while KEEPING the documents): every W-word window occurrence
    * that is not the corpus-first occurrence of its hash (first =
    * minimal (doc_id, idx) — self-repetition within a document counts)
    * marks its word interval excisable; per document the intervals are
    * merged (gaps-and-islands union) and the per-source report gives
    * docs touched, words excised, and the excision rate.
    *
    * Scale shape: one shuffle on the window hash to rank occurrences
    * (heavy buckets only where windows actually repeat — the q204
    * class, with the same exact-dedup-first production mitigation),
    * then doc-grain interval-union windows (bounded by document
    * length) and a source-grain fold. Output is |sources| rows. All
    * arithmetic is exact integers except the final single-division
    * rate. */
  def q219SpanExcision(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val wins = windows(docs)
    val wOcc = Window.partitionBy("wh").orderBy("doc_id", "idx")
    val dup = wins.withColumn("rn", row_number().over(wOcc))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("idx"), (col("idx") + lit(W - 1)).as("e"))
    val wPrev = Window.partitionBy("doc_id").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDoc = dup
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("ni",
        when(col("pmax").isNull || col("idx") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wRun))
      .groupBy("doc_id", "island")
      .agg((max(col("e")) - min(col("idx")) + lit(1L)).as("span"))
      .groupBy("doc_id")
      .agg(sum(col("span")).as("excised_words"),
        count(lit(1)).as("n_spans"))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("excised_words").isNotNull, 1L).otherwise(0L))
          .as("docs_touched"),
        sum(col("n_words")).as("total_words"),
        coalesce(sum(col("excised_words")), lit(0L)).as("excised_words"),
        coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"))
      .withColumn("excision_rate",
        round(col("excised_words").cast("double") / col("total_words"), 6))
      .orderBy("source")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q204_exact_substr", q204ExactSubstr _,
      s"""WITH wins AS (
        |  SELECT doc_id, i AS idx,
        |         md5(array_to_string(ws[i:i + ${W - 1}], ' ')) AS wh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(text, ' ')) - ${W - 1})) AS i
        |        FROM documents)
        |  WHERE len(ws) >= $W),
        |hits AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.idx AS idx1,
        |         a.idx - b.idx AS off
        |  FROM wins a JOIN wins b
        |    ON a.wh = b.wh AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT id1, id2, off,
        |         idx1 - row_number() OVER (
        |           PARTITION BY id1, id2, off ORDER BY idx1) AS grp,
        |         idx1
        |  FROM hits),
        |islands AS (
        |  SELECT id1, id2, off, grp, count(*) AS run_windows,
        |         min(idx1) AS start1
        |  FROM runs GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT id1, id2,
        |         max(struct_pack(run_windows := run_windows,
        |                         noff := -off, nstart := -start1))
        |           AS best,
        |         count(*) AS n_runs,
        |         CAST(sum(run_windows) AS BIGINT) AS n_shared_windows
        |  FROM islands
        |  WHERE run_windows >= $MinRunWindows
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |       CAST(best.run_windows + ${W - 1} AS BIGINT)
        |         AS longest_run_words,
        |       n_runs, n_shared_windows
        |FROM best
        |ORDER BY longest_run_words DESC, id1, id2
        |LIMIT $TopPairs""".stripMargin),
    QueryDef("q219_span_excision", q219SpanExcision _,
      s"""WITH wins AS (
        |  SELECT doc_id, i AS idx,
        |         md5(array_to_string(ws[i:i + ${W - 1}], ' ')) AS wh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(text, ' ')) - ${W - 1})) AS i
        |        FROM documents)
        |  WHERE len(ws) >= $W),
        |dup AS (
        |  SELECT doc_id, idx, idx + ${W - 1} AS e FROM (
        |    SELECT doc_id, idx,
        |           row_number() OVER (PARTITION BY wh
        |             ORDER BY doc_id, idx) AS rn
        |    FROM wins)
        |  WHERE rn > 1),
        |marked AS (
        |  SELECT doc_id, idx, e,
        |         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY idx
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                IS NULL
        |              OR idx > max(e) OVER (PARTITION BY doc_id
        |                ORDER BY idx
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS ni
        |  FROM dup),
        |islands AS (
        |  SELECT doc_id, idx, e,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY idx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS island
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, island, max(e) - min(idx) + 1 AS span
        |  FROM islands GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(span) AS BIGINT) AS excised_words,
        |         count(*) AS n_spans
        |  FROM spans GROUP BY 1),
        |d AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |      FROM documents)
        |SELECT d.source, count(*) AS n_docs,
        |       count(p.doc_id) AS docs_touched,
        |       CAST(sum(d.n_words) AS BIGINT) AS total_words,
        |       CAST(coalesce(sum(p.excised_words), 0) AS BIGINT)
        |         AS excised_words,
        |       CAST(coalesce(sum(p.n_spans), 0) AS BIGINT) AS n_spans,
        |       round(CAST(coalesce(sum(p.excised_words), 0) AS DOUBLE)
        |             / CAST(sum(d.n_words) AS BIGINT), 6) AS excision_rate
        |FROM d LEFT JOIN perdoc p USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin))
}
