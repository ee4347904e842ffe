package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] corpus text-profile analytics: classic readability scoring
  * (q288), out-of-vocabulary emergence across crawl halves (q289) and
  * the Heaps'-law vocabulary-growth exponent (q291) — the
  * quantitative "what is this text LIKE, and is its vocabulary still
  * growing?" profile a corpus owner reads next to the richness
  * estimates (q230) and the Zipf fit (q240).
  *
  * Scale shape: everything collapses on first touch to combinable
  * profiles — per-document integer counts (q288), the per-(source,
  * word) histogram with conditional half counts (q289), and a
  * doc-grain cumulative profile plus a word-first-seen fold (q291).
  * No operator ever windows over raw tokens; the widest shuffle key
  * is (source, word), the same content-keyed discipline as the dedup
  * family.
  *
  * Determinism discipline: all counts fold as exact BIGINTs; every
  * reported ratio is a single correctly-rounded double expression
  * over them, mirrored verbatim in the oracle; the Heaps regression
  * micro-quantizes ln(N) and ln(V) to BIGINTs before any cross-row
  * fold (the q240/q169 pattern), so the OLS moments are
  * bit-identical cross-engine. Readability constants (Flesch–Kincaid
  * 0.39/11.8/15.59, Flesch 206.835/1.015/84.6 — Kincaid et al. 1975,
  * PAPERS.md) are pinned literals parsed identically by both
  * engines.
  *
  * Also here: the corpus novelty curve (q357).
  */
object TextProfile {

  /** Non-empty whitespace tokens of `text` (the corpus-wide tokenizer
    * convention shared with Vocabulary/TextOps). */
  private def wordsOf(c: Column): Column =
    expr(s"filter(split(trim(${c.toString}), ' '), w -> length(w) > 0)")

  /** q288 — READABILITY PROFILE: per source, Flesch reading ease and
    * Flesch–Kincaid grade level from exact word / sentence / syllable
    * counts. Sentences are terminal-punctuation runs (`[.!?]+`, floor
    * one per document); syllables are vowel-group runs per word
    * (floor one) — the standard deterministic heuristic, identical
    * regexes in both engines. The style-level companion to q39's
    * quality score (which gates on length/punctuation ratios but says
    * nothing about sentence complexity). */
  def q288Readability(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"), wordsOf(col("text")).as("ws"), col("text"))
      .select(col("source"),
        size(col("ws")).cast("long").as("nw"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
            .cast("long")).as("ns"),
        expr("aggregate(ws, 0L, (acc, w) -> acc + greatest(1L, " +
          "cast(size(regexp_extract_all(w, '[aeiouyAEIOUY]+', 0)) " +
          "as bigint)))").as("nsyl"))
      .filter(col("nw") > 0)
    val wps = col("sw").cast("double") / col("ss")
    val spw = col("ssyl").cast("double") / col("sw")
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("sw"),
        sum("ns").as("ss"), sum("nsyl").as("ssyl"))
      .select(col("source"), col("n_docs"),
        round(wps, 4).as("words_per_sentence"),
        round(spw, 4).as("syllables_per_word"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
          .as("flesch_ease"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
          .as("fk_grade"))
      .orderBy("source")
  }

  /** q289 — OOV EMERGENCE across crawl halves: split each source's
    * documents at the global doc_id midpoint (ingest-order proxy, the
    * q151 shared-halves discipline applied to the corpus axis) and
    * measure how much of the SECOND half's vocabulary the first half
    * never saw — as distinct word types and as token occurrences. The
    * forward-looking twin of q230's unseen-mass estimate: Good–Turing
    * predicts novelty, this MEASURES it on the actual continuation. A
    * tokenizer or filter frozen on half-one data degrades on exactly
    * the token_oov_rate mass. */
  def q289OovEmergence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(
      expr("(min(doc_id) + max(doc_id)) div 2").as("cut"))
    val hist = docs.crossJoin(broadcast(cut))
      .select(col("source"), (col("doc_id") <= col("cut")).as("h1"),
        explode(wordsOf(col("text"))).as("word"))
      .groupBy("source", "word")
      .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("n2"))
    hist.groupBy("source")
      .agg(
        sum(when(col("n1") > 0, 1L).otherwise(0L)).as("v1"),
        sum(when(col("n2") > 0, 1L).otherwise(0L)).as("v2"),
        sum(when(col("n1") === 0 && col("n2") > 0, 1L).otherwise(0L))
          .as("v2_new"),
        sum(col("n2")).as("t2"),
        sum(when(col("n1") === 0, col("n2")).otherwise(0L)).as("t2_new"))
      .filter(col("v2") > 0)
      .select(col("source"), col("v1"), col("v2"), col("v2_new"),
        round(col("v2_new").cast("double") / col("v2"), 6)
          .as("type_oov_rate"),
        round(col("t2_new").cast("double") / col("t2"), 6)
          .as("token_oov_rate"))
      .orderBy("source")
  }

  /** q291 probe count: vocabulary growth sampled at ingest-order
    * deciles. */
  private[graft] val HeapsProbes = 10

  /** q291 — HEAPS'-LAW EXPONENT (Heaps 1978, PAPERS.md): per source,
    * the β in V(N) ≈ K·N^β fitted by OLS on (ln N, ln V) sampled at
    * [[HeapsProbes]] ingest-order decile prefixes — the GROWTH-law
    * companion to q240's Zipf frequency fit and q230's Chao1 asymptote:
    * β near 1 means the source still mints vocabulary nearly linearly
    * (keep crawling), β ≪ 1 means saturation. Natural text sits around
    * 0.4–0.6.
    *
    * Shape: one histogram pass gives each word's FIRST document (min
    * doc_id per (source, word)); new-vocabulary and token counts fold
    * to the doc grain; cumulative N(d), V(d) are windows over the
    * per-source DOCUMENT profile; the decile probe set is computed
    * per row from the source's doc count (array membership against a
    * 10-element generated list — no second pass); the regression is
    * the q240 quantized-log OLS verbatim. Sources with zero x- or
    * y-variance across probes (vocabulary already saturated at every
    * decile — template/clone sources) have no growth law to fit and
    * are dropped, the same degenerate-fit rule as q240. */
  def q291HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), wordsOf(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
    val perDoc = docs.select(col("source"), col("doc_id"),
      size(col("ws")).cast("long").as("ntok"))
    val firstSeen = docs
      .select(col("source"), col("doc_id"), explode(col("ws")).as("word"))
      .groupBy("source", "word").agg(min("doc_id").as("fdoc"))
      .groupBy(col("source"), col("fdoc").as("doc_id"))
      .agg(count(lit(1)).as("newv"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    val cum = perDoc
      .join(firstSeen, Seq("source", "doc_id"), "left")
      .select(col("source"), col("doc_id"), col("ntok"),
        coalesce(col("newv"), lit(0L)).as("newv"))
      .select(col("source"),
        row_number().over(w).as("idx"),
        count(lit(1)).over(Window.partitionBy("source")).as("d"),
        sum("ntok").over(w).as("cn"),
        sum("newv").over(w).as("cv"))
    val probes = cum.filter(expr(
      "array_contains(transform(sequence(1, 10), " +
        "k -> (k * d + 9) div 10), cast(idx as bigint))"))
      .select(col("source"),
        expr("cast(round(ln(cast(cn as double)) * 1e6, 0) as bigint)")
          .as("x"),
        expr("cast(round(ln(cast(cv as double)) * 1e6, 0) as bigint)")
          .as("y"))
    def d(c: Column): Column = c.cast("double")
    probes.groupBy("source")
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", d(col("k")) * d(col("sxy")) -
        d(col("sx")) * d(col("sy")))
      .withColumn("denx", d(col("k")) * d(col("sxx")) -
        d(col("sx")) * d(col("sx")))
      .withColumn("deny", d(col("k")) * d(col("syy")) -
        d(col("sy")) * d(col("sy")))
      .filter(col("k") >= 2L && col("denx") =!= 0.0 &&
        col("deny") =!= 0.0)
      .select(col("source"), col("k").as("n_points"),
        round(col("num") / col("denx"), 6).as("heaps_beta"),
        round((col("num") * col("num")) / (col("denx") * col("deny")), 6)
          .as("r2"))
      .orderBy("source")
  }

  /** q338 — CHARSET COMPOSITION PROFILE: per source, the character
    * mix — letter / digit / space / punctuation / other shares of all
    * characters — the hygiene fingerprint that separates prose from
    * tables, logs and markup at a glance (q39 gates single documents;
    * this profiles the SOURCE, the grain at which ingest decisions
    * are made). Counts via length-difference after class removal —
    * exact integers; shares single divisions. */
  def q338CharsetProfile(spark: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String): Column =
      (length(col("text")) -
        length(regexp_replace(col("text"), cls, ""))).cast("long")
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"), length(col("text")).cast("long").as("n"),
        cnt("[A-Za-z]").as("letters"), cnt("[0-9]").as("digits"),
        cnt("[ ]").as("spaces"), cnt("[.,!?;:]").as("punct"))
    perDoc.groupBy("source")
      .agg(sum("n").as("chars"), sum("letters").as("l"),
        sum("digits").as("d"), sum("spaces").as("s"),
        sum("punct").as("p"))
      .select(col("source"), col("chars"),
        round(col("l").cast("double") / col("chars"), 6)
          .as("letter_share"),
        round(col("d").cast("double") / col("chars"), 6)
          .as("digit_share"),
        round(col("s").cast("double") / col("chars"), 6)
          .as("space_share"),
        round(col("p").cast("double") / col("chars"), 6)
          .as("punct_share"),
        round((col("chars") - col("l") - col("d") - col("s") - col("p"))
          .cast("double") / col("chars"), 6).as("other_share"))
      .orderBy("source")
  }

  /** q343 — INGEST-QUALITY TREND: the corpus's quality trajectory in
    * ingest order — per doc_id-decile batch, mean length, mean words,
    * mean word length and short-doc share — the "is the crawl getting
    * worse?" monitor: q39 gates documents one at a time, q289/q291
    * track vocabulary; this tracks the QUALITY SURFACE batch over
    * batch. Batches are value-based doc_id deciles (the q234 edge
    * discipline), so no global window runs.
    *
    * Exactness: per-doc counts exact; batch means single divisions. */
  def q343IngestQualityTrend(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(wordsOf(col("text"))).cast("long").as("n_words"))
    val edges = docs.agg(
      expr("transform(percentile(doc_id, array(0.1, 0.2, 0.3, 0.4, " +
        "0.5, 0.6, 0.7, 0.8, 0.9)), e -> round(e, 6))").as("edges"))
    docs.crossJoin(broadcast(edges))
      .select(size(expr("filter(edges, e -> doc_id >= e)"))
        .as("ingest_decile"), col("n_chars"), col("n_words"))
      .groupBy("ingest_decile")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sc"),
        sum("n_words").as("sw"),
        sum(when(col("n_words") < 50, 1L).otherwise(0L)).as("n_short"))
      .select(col("ingest_decile"), col("n_docs"),
        round(col("sc").cast("double") / col("n_docs"), 4)
          .as("mean_chars"),
        round(col("sw").cast("double") / col("n_docs"), 4)
          .as("mean_words"),
        round(col("sc").cast("double") / col("sw"), 4)
          .as("mean_word_len"),
        round(col("n_short").cast("double") / col("n_docs"), 6)
          .as("short_doc_share"))
      .orderBy("ingest_decile")
  }

  /** q344 audited context lengths (whitespace tokens). */
  private[graft] val ContextLengths = Seq(128L, 256L, 512L, 1024L)

  /** q344 — TRUNCATION-WASTE CURVE: for each candidate context length
    * L, how many documents exceed it and what fraction of corpus
    * tokens a hard truncation at L would discard — the context-window
    * sizing decision that q98's packing and q130's budget selection
    * take as GIVEN. One fold evaluates every candidate (the q272/q320
    * operating-curve discipline).
    *
    * Exactness: token counts and excess sums fold as exact BIGINTs;
    * shares single divisions. */
  def q344TruncationWaste(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(size(wordsOf(col("text"))).cast("long").as("toks"))
    val folds = ContextLengths.zipWithIndex.flatMap { case (l, i) =>
      Seq(sum(when(col("toks") > l, 1L).otherwise(0L)).as(s"o$i"),
        sum(when(col("toks") > l, col("toks") - l).otherwise(0L))
          .as(s"w$i"))
    }
    val agg = docs.agg(count(lit(1)).as("n_docs"),
      (sum("toks").as("n_tokens") +: folds): _*)
    val rows = ContextLengths.zipWithIndex.map { case (l, i) =>
      struct(lit(l).as("context_len"), col(s"o$i").as("docs_over"),
        round(col(s"o$i").cast("double") / col("n_docs"), 6)
          .as("docs_over_share"),
        col(s"w$i").as("tokens_lost"),
        round(col(s"w$i").cast("double") / col("n_tokens"), 6)
          .as("tokens_lost_share"))
    }
    agg.select(col("n_docs"), col("n_tokens"), inline(array(rows: _*)))
      .orderBy("context_len")
  }

  /** q357 — CORPUS NOVELTY CURVE: split the corpus into 10 equal-width
    * doc-id ranges (the ingest-order proxy q343 uses) and measure how
    * many NEVER-SEEN-BEFORE word-3-gram shingles each tranche
    * contributes — the diminishing-returns curve behind "is crawling
    * more of this source still buying new content?", the
    * corpus-level companion to q289's OOV emergence (two halves) and
    * q291's Heaps exponent (a fitted summary; this is the raw curve).
    * Reuses the cached q32/q34 shingle table.
    *
    * Scale shape: one shingle-grain min fold (content key), a 10-row
    * profile, cumulative via a grouping-less collect fold — no
    * window. */
  def q357NoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(spark, dir)
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val firstSeen = Dedup.shingles(spark, dir)
      .crossJoin(broadcast(ids))
      .select(col("shingle"), expr(
        "least(9L, (doc_id - lo) * 10 div (hi - lo + 1))").as("bucket"))
      .groupBy("shingle")
      .agg(min(col("bucket")).as("first_bucket"))
    val perBucket = spark.range(10)
      .select(col("id").as("first_bucket"))
      .join(firstSeen.groupBy("first_bucket")
        .agg(count(lit(1)).as("new_shingles")), Seq("first_bucket"),
        "left")
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
    perBucket
      .agg(expr("array_sort(collect_list(struct(first_bucket, new_shingles)))")
        .as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.first_bucket AS bucket, s.new_shingles AS new_shingles,
          |  aggregate(slice(a, 1, i + 1), 0L,
          |            (acc, t) -> acc + t.new_shingles) AS cum_shingles,
          |  aggregate(a, 0L, (acc, t) -> acc + t.new_shingles)
          |    AS total_shingles)))""".stripMargin))
      .select(col("bucket"), col("new_shingles"), col("cum_shingles"),
        round(try_divide(col("new_shingles").cast("double"),
          col("total_shingles")), 6).as("new_share"),
        round(try_divide(col("cum_shingles").cast("double"),
          col("total_shingles")), 6).as("cum_share"))
      .orderBy("bucket")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q343_ingest_quality_trend", q343IngestQualityTrend _,
      """WITH docs AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(list_filter(string_split(trim(text), ' '),
        |                              w -> length(w) > 0)) AS BIGINT)
        |           AS n_words
        |  FROM documents),
        |edges AS (
        |  SELECT list_transform(
        |           quantile_cont(doc_id, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                                  0.6, 0.7, 0.8, 0.9]),
        |           e -> round(e, 6)) AS edges
        |  FROM docs),
        |bucketed AS (
        |  SELECT CAST(len(list_filter((SELECT edges FROM edges),
        |                              e -> d.doc_id >= e)) AS INTEGER)
        |           AS ingest_decile,
        |         d.n_chars, d.n_words
        |  FROM docs d)
        |SELECT ingest_decile, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4)
        |         AS mean_chars,
        |       round(CAST(sum(n_words) AS DOUBLE) / count(*), 4)
        |         AS mean_words,
        |       round(CAST(sum(n_chars) AS DOUBLE) / sum(n_words), 4)
        |         AS mean_word_len,
        |       round(CAST(sum(CASE WHEN n_words < 50 THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6) AS short_doc_share
        |FROM bucketed GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q344_truncation_waste", q344TruncationWaste _,
      {
      val arms = ContextLengths.map { l =>
        s"""SELECT (SELECT n_docs FROM tot) AS n_docs,
           |  (SELECT n_tokens FROM tot) AS n_tokens,
           |  CAST($l AS BIGINT) AS context_len,
           |  CAST(sum(CASE WHEN toks > $l THEN 1 ELSE 0 END) AS BIGINT)
           |    AS docs_over,
           |  round(CAST(sum(CASE WHEN toks > $l THEN 1 ELSE 0 END)
           |          AS DOUBLE) / (SELECT n_docs FROM tot), 6)
           |    AS docs_over_share,
           |  CAST(sum(CASE WHEN toks > $l THEN toks - $l ELSE 0 END)
           |    AS BIGINT) AS tokens_lost,
           |  round(CAST(sum(CASE WHEN toks > $l THEN toks - $l
           |                      ELSE 0 END) AS DOUBLE)
           |        / (SELECT n_tokens FROM tot), 6) AS tokens_lost_share
           |FROM docs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (
         |  SELECT CAST(len(list_filter(string_split(trim(text), ' '),
         |                              w -> length(w) > 0)) AS BIGINT)
         |           AS toks
         |  FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(toks) AS BIGINT) AS n_tokens FROM docs)
         |$arms
         |ORDER BY context_len""".stripMargin
    }),
    QueryDef("q338_charset_profile", q338CharsetProfile _,
      """WITH per_doc AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
        |           AS BIGINT) AS letters,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[0-9]', '', 'g'))
        |           AS BIGINT) AS digits,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[ ]', '', 'g'))
        |           AS BIGINT) AS spaces,
        |         CAST(length(text)
        |           - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |           AS BIGINT) AS punct
        |  FROM documents),
        |agg AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS chars,
        |         CAST(sum(letters) AS BIGINT) AS l,
        |         CAST(sum(digits) AS BIGINT) AS d,
        |         CAST(sum(spaces) AS BIGINT) AS s,
        |         CAST(sum(punct) AS BIGINT) AS p
        |  FROM per_doc GROUP BY 1)
        |SELECT source, chars,
        |       round(CAST(l AS DOUBLE) / chars, 6) AS letter_share,
        |       round(CAST(d AS DOUBLE) / chars, 6) AS digit_share,
        |       round(CAST(s AS DOUBLE) / chars, 6) AS space_share,
        |       round(CAST(p AS DOUBLE) / chars, 6) AS punct_share,
        |       round(CAST(chars - l - d - s - p AS DOUBLE) / chars, 6)
        |         AS other_share
        |FROM agg ORDER BY source""".stripMargin),
    QueryDef("q288_readability", q288Readability _,
      """WITH per_doc AS (
        |  SELECT source,
        |         CAST(len(list_filter(string_split(trim(text), ' '),
        |                              w -> length(w) > 0)) AS BIGINT)
        |           AS nw,
        |         greatest(CAST(1 AS BIGINT),
        |           CAST(len(regexp_extract_all(text, '[.!?]+'))
        |             AS BIGINT)) AS ns,
        |         CAST(list_sum(list_transform(
        |             list_filter(string_split(trim(text), ' '),
        |                         w -> length(w) > 0),
        |             w -> greatest(CAST(1 AS BIGINT),
        |               CAST(len(regexp_extract_all(w, '[aeiouyAEIOUY]+'))
        |                 AS BIGINT)))) AS BIGINT) AS nsyl
        |  FROM documents),
        |prof AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(nw) AS BIGINT) AS sw,
        |         CAST(sum(ns) AS BIGINT) AS ss,
        |         CAST(sum(nsyl) AS BIGINT) AS ssyl
        |  FROM per_doc WHERE nw > 0 GROUP BY 1)
        |SELECT source, n_docs,
        |       round(CAST(sw AS DOUBLE) / ss, 4) AS words_per_sentence,
        |       round(CAST(ssyl AS DOUBLE) / sw, 4) AS syllables_per_word,
        |       round(206.835 - 1.015 * (CAST(sw AS DOUBLE) / ss)
        |             - 84.6 * (CAST(ssyl AS DOUBLE) / sw), 4)
        |         AS flesch_ease,
        |       round(0.39 * (CAST(sw AS DOUBLE) / ss)
        |             + 11.8 * (CAST(ssyl AS DOUBLE) / sw) - 15.59, 4)
        |         AS fk_grade
        |FROM prof ORDER BY source""".stripMargin),
    QueryDef("q289_oov_emergence", q289OovEmergence _,
      """WITH cut AS (
        |  SELECT (min(doc_id) + max(doc_id)) // 2 AS cut
        |  FROM documents),
        |hist AS (
        |  SELECT source, word,
        |         CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n1,
        |         CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT)
        |           AS n2
        |  FROM (SELECT source,
        |               doc_id <= (SELECT cut FROM cut) AS h1,
        |               unnest(list_filter(string_split(trim(text), ' '),
        |                                  w -> length(w) > 0)) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |prof AS (
        |  SELECT source,
        |         CAST(sum(CASE WHEN n1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS v1,
        |         CAST(sum(CASE WHEN n2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS v2,
        |         CAST(sum(CASE WHEN n1 = 0 AND n2 > 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS v2_new,
        |         CAST(sum(n2) AS BIGINT) AS t2,
        |         CAST(sum(CASE WHEN n1 = 0 THEN n2 ELSE 0 END) AS BIGINT)
        |           AS t2_new
        |  FROM hist GROUP BY 1)
        |SELECT source, v1, v2, v2_new,
        |       round(CAST(v2_new AS DOUBLE) / v2, 6) AS type_oov_rate,
        |       round(CAST(t2_new AS DOUBLE) / t2, 6) AS token_oov_rate
        |FROM prof WHERE v2 > 0 ORDER BY source""".stripMargin),
    QueryDef("q291_heaps_law", q291HeapsLaw _,
      """WITH docs AS (
        |  SELECT source, doc_id,
        |         list_filter(string_split(trim(text), ' '),
        |                     w -> length(w) > 0) AS ws
        |  FROM documents),
        |nonempty AS (SELECT * FROM docs WHERE len(ws) > 0),
        |per_doc AS (
        |  SELECT source, doc_id, CAST(len(ws) AS BIGINT) AS ntok
        |  FROM nonempty),
        |first_seen AS (
        |  SELECT source, fdoc AS doc_id,
        |         CAST(count(*) AS BIGINT) AS newv
        |  FROM (SELECT source, word, min(doc_id) AS fdoc
        |        FROM (SELECT source, doc_id, unnest(ws) AS word
        |              FROM nonempty)
        |        GROUP BY 1, 2)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT p.source,
        |         CAST(row_number() OVER w AS BIGINT) AS idx,
        |         CAST(count(*) OVER (PARTITION BY p.source) AS BIGINT)
        |           AS d,
        |         CAST(sum(p.ntok) OVER w AS BIGINT) AS cn,
        |         CAST(sum(COALESCE(f.newv, 0)) OVER w AS BIGINT) AS cv
        |  FROM per_doc p LEFT JOIN first_seen f USING (source, doc_id)
        |  WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id)),
        |probes AS (
        |  SELECT source,
        |         CAST(round(ln(CAST(cn AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |           AS x,
        |         CAST(round(ln(CAST(cv AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |           AS y
        |  FROM cum
        |  WHERE list_contains(list_transform(generate_series(1, 10),
        |                                     k -> (k * d + 9) // 10),
        |                      idx)),
        |m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM probes GROUP BY 1),
        |f AS (
        |  SELECT source, k,
        |         CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        |         CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT source, k AS n_points,
        |       round(num / denx, 6) AS heaps_beta,
        |       round((num * num) / (denx * deny), 6) AS r2
        |FROM f WHERE k >= 2 AND denx <> 0.0 AND deny <> 0.0
        |ORDER BY source""".stripMargin),
    QueryDef("q357_novelty_curve", q357NoveltyCurve _,
      (s"WITH ${Dedup.shinglesCte},\n" +
      """ids AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi
        |        FROM documents),
        |fs AS (
        |  SELECT shingle,
        |         min(least(9, (doc_id - (SELECT lo FROM ids)) * 10
        |             // ((SELECT hi FROM ids) - (SELECT lo FROM ids) + 1)))
        |           AS first_bucket
        |  FROM shingles GROUP BY 1),
        |pb AS (
        |  SELECT s.b AS bucket,
        |         CAST(coalesce(count(fs.shingle), 0) AS BIGINT)
        |           AS new_shingles
        |  FROM generate_series(0, 9) s(b)
        |  LEFT JOIN fs ON fs.first_bucket = s.b
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(new_shingles) AS BIGINT) AS t FROM pb)
        |SELECT bucket, new_shingles,
        |       CAST(sum(new_shingles) OVER (ORDER BY bucket
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_shingles,
        |       round(CAST(new_shingles AS DOUBLE) / (SELECT t FROM tot), 6)
        |         AS new_share,
        |       round(CAST(sum(new_shingles) OVER (ORDER BY bucket
        |           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |         / (SELECT t FROM tot), 6) AS cum_share
        |FROM pb ORDER BY bucket""".stripMargin)))
}
