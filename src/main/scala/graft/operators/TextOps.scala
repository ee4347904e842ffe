package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Hashing
import graft.sources.Tables

/** [EXT] text-analysis operators for LLM-data pipelines (BASELINE.json
  * mandate; SURVEY.md §2.11): language ID, quality scoring, token
  * counting, document fingerprinting, multimodal (binary) column
  * plumbing. All are single-pass, codegen-friendly column expressions —
  * no UDFs — so they stay inside WholeStageCodegen and scale linearly
  * with the 100 TB document corpus (embarrassingly parallel, no shuffle
  * except final ORDER BY for the oracle compare).
  */
object TextOps {

  /** Occurrences of `marker` in column `padded` via length-difference,
    * using non-regex `replace` — exactly mirrorable in DuckDB SQL.
    * Integer-valued by construction. */
  private def occ(padded: String, marker: String): Column =
    ((length(col(padded)) - length(expr(s"replace($padded, '$marker', '')")))
      / marker.length).cast("int")

  /** q38 — language ID by marker-word counting (n-gram heuristic family).
    * Scores = occurrence counts of per-language marker words; prediction
    * = first maximal score in fixed language order (deterministic
    * tie-break). The synthetic corpus shares one vocabulary across langs,
    * so this demonstrates the operator shape, not linguistics. */
  def q38LangId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "de" -> " der ", "en" -> " the ", "es" -> " el ",
      "fr" -> " le ", "zh" -> " spark ")
    val padded = concat(lit(" "), col("text"), lit(" ")).as("padded")
    val withScores = markers.foldLeft(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), padded)) {
      case (df, (lang, marker)) =>
        df.withColumn(s"score_$lang", occ("padded", marker))
    }
    val langs = markers.map(_._1)
    // first maximal score in alphabetical lang order
    val pred = markers.zipWithIndex.foldRight(lit(langs.last): Column) {
      case (((lang, _), i), elseCol) =>
        if (i == markers.size - 1) elseCol
        else {
          val isMax = langs.drop(i + 1).map(o =>
            col(s"score_$lang") >= col(s"score_$o")).reduce(_ && _)
          when(isMax, lit(lang)).otherwise(elseCol)
        }
    }
    withScores
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_correct"),
        col("score_de"), col("score_en"), col("score_es"),
        col("score_fr"), col("score_zh"))
      .orderBy("doc_id")
  }

  /** q39 — document quality scoring: length / word / stopword statistics
    * and a composite score (the length-punct-stopword family used for
    * pretraining-data filtering). */
  def q39QualityScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_chars_actual", length(col("text")))
      .withColumn("n_words", size(split(trim(col("text")), " ")))
      .withColumn("n_stopwords", (occ("padded", " the ") + occ("padded", " a ")))
      .select(col("doc_id"), col("n_chars_actual"), col("n_words"),
        round((length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_words")), 6).as("avg_word_len"),
        col("n_stopwords"),
        round(col("n_stopwords").cast("double") / col("n_words"), 6)
          .as("stopword_ratio"),
        round(log(lit(1.0) + col("n_words"))
          * (lit(1.0) - col("n_stopwords").cast("double") / col("n_words")), 6)
          .as("quality"))
      .orderBy("doc_id")
  }

  /** q40 — token counting: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs / digit runs / single other chars). */
  def q40TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("int").as("n_bpe_tokens"),
        round(length(col("text")).cast("double") /
          size(split(trim(col("text")), "\\s+")), 6).as("chars_per_token"))
      .orderBy("doc_id")

  /** q41 — document fingerprinting: canonical text normalization then a
    * stable 128-bit fingerprint + 60-bit numeric fingerprint
    * (join/partition-friendly). */
  def q41Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val normalized = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(spark, dir)
      .withColumn("normalized", normalized)
      .select(col("doc_id"),
        md5(col("normalized")).as("fingerprint"),
        Hashing.md5Hash60(col("normalized")).as("fingerprint60"))
      .orderBy("doc_id")
  }

  /** q42 — multimodal column plumbing, SQL-visible half: treat content as
    * an opaque binary payload with typed metadata (the schema a 100 TB
    * image/audio pipeline uses; here payload = utf8 text bytes since the
    * container ships no media libs — SURVEY.md scope note). Byte length
    * and checksum are computed on the BINARY column. The typed
    * batch-decode half is [[Multimodal.decodeBatches]] (ScalaTest-covered,
    * q43 rows-only). */
  def q42MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("checksum"),
        lit("utf8-text").as("media_kind"),
        struct(col("n_chars").as("width"), lit(1L).as("height")).as("meta"))
      .select(col("doc_id"), col("n_bytes"), col("checksum"),
        col("media_kind"), col("meta.width").as("meta_width"),
        col("meta.height").as("meta_height"))
      .orderBy("doc_id")

  /** Per-(doc, word) term frequencies — the shared base of q86 (TF-IDF),
    * q87 (entropy), and q96 (BM25), cached per (session, dir) like the
    * Dedup shingle table: the tokenize-explode-aggregate pass over the
    * corpus is the dominant cost of every consumer. */
  private[operators] def termFreqs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"term_freqs|$dir")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))

  /** Per-word document frequencies over [[termFreqs]] (q86 + q96). */
  private def docFreqs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"doc_freqs|$dir")(
      termFreqs(spark, dir).groupBy("word").agg(count(lit(1)).as("df")))

  /** q86 — TF-IDF: top-3 terms per document by tf * ln(N/df), ranked with
    * a lexical tie-break. Term frequencies and document frequencies are
    * two hash aggregates over the exploded token table; N arrives as a
    * broadcast scalar (never a driver-side collect). The canonical
    * relevance-weighting operator for corpus search/labeling. */
  def q86Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = termFreqs(spark, dir)
    val dfreq = docFreqs(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    tf.join(dfreq, Seq("word")).crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("word"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** q87 — token-distribution entropy per document: Shannon entropy of
    * the unigram distribution plus its ln(V)-normalized form — the
    * repetitiveness/diversity signal used alongside q39's quality score
    * for pretraining-data filtering. Two hash aggregates, no shuffle
    * beyond the doc_id key. */
  def q87Entropy(spark: SparkSession, dir: String): DataFrame =
    termFreqs(spark, dir).groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf").cast("double") * log(col("tf").cast("double")))
          .as("sum_tlnt"))
      // H = ln(n) - (1/n) * sum(tf * ln tf): one pass, no per-word p column
      .withColumn("entropy", round(
        log(col("n_tokens").cast("double")) -
          col("sum_tlnt") / col("n_tokens"), 4))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1, round(
          (log(col("n_tokens").cast("double")) -
            col("sum_tlnt") / col("n_tokens")) /
            log(col("n_distinct").cast("double")), 4)))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("entropy"), col("norm_entropy"))
      .orderBy("doc_id")

  /** q96 — BM25 retrieval: documents ranked against a deterministic
    * query (the corpus's 3 highest-df words, so the query derives from
    * the data, not a hardcoded vocabulary) with the standard
    * k1=1.2 / b=0.75 saturation + length normalization. Reuses the
    * shared term-frequency table; doc lengths and the corpus constants
    * ride along as broadcast scalars. Output = top-20 docs by rounded
    * score with doc_id tie-break. */
  def q96Bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k1 = 1.2
    val b = 0.75
    val tf = termFreqs(spark, dir)
    val docLen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = docLen.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dfreq = docFreqs(spark, dir)
    val queryTerms = dfreq
      .orderBy(desc("df"), asc("word")).limit(3).select("word", "df")
    tf.join(broadcast(queryTerms), Seq("word"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("term_score", col("idf") *
        (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("term_score")), 4).as("bm25"),
        count(lit(1)).as("n_matched_terms"))
      // global top-20 via orderBy+limit (TakeOrderedAndProject — no
      // single-partition window over the full corpus); the rank window
      // then runs over just the 20 survivors
      .orderBy(desc("bm25"), asc("doc_id")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("bm25"), asc("doc_id"))))
      .select(col("rank"), col("doc_id"), col("bm25"),
        col("n_matched_terms"))
      .orderBy("rank")
  }

  /** q111 — unigram-LM surprisal scoring (the CCNet-style perplexity
    * quality filter, with the corpus's own unigram model standing in
    * for the external LM — the container ships no trained LM): token
    * probabilities p(t) = ctf(t) / T from corpus-wide term counts, each
    * document scored by its mean token surprisal -log2 p(t) in bits.
    * Low bits = dominated by corpus-common tokens (boilerplate-ish);
    * high bits = rare-token-heavy (OCR noise / gibberish) — the two
    * tails a perplexity filter trims before pretraining. Reuses the
    * shared [[termFreqs]] table; the corpus token total rides as a
    * broadcast scalar. Scale: two hash aggregations over the token
    * table plus a token-key join of per-doc term freqs against the
    * (Zipf-small) vocabulary table — the same shuffle classes as
    * q86/q87, nothing new to size. */
  def q111LmSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val tf = termFreqs(spark, dir)
    val vocab = tf.groupBy("word").agg(sum(col("tf")).as("ctf"))
    val total = vocab.agg(sum(col("ctf")).as("t_total"))
    tf.join(vocab, Seq("word"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast("double") *
          -log2(col("ctf").cast("double") / col("t_total"))).as("bits"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("bits") / col("n_tokens"), 4).as("avg_surprisal_bits"))
      .orderBy("doc_id")
  }

  /** q118 — bigram-LM conditional surprisal: the n-gram upgrade of
    * q111. Every adjacent word pair (w1, w2) scores
    * -log2 p(w2 | w1) = -log2( c(w1 w2) / c(w1 as prefix) ), with both
    * counts trained corpus-wide; a document's mean conditional
    * surprisal separates locally-coherent text (common continuations,
    * low bits) from shuffled/garbled text that q111's order-blind
    * unigram model scores identically. Corpus trained on itself =>
    * every doc bigram has nonzero count, so no smoothing/backoff is
    * needed and the score is exact. Scale: one bigram explode
    * (O(tokens) rows) + two hash-agg count tables joined back on the
    * bigram content key — q34's shingle shuffle class, nothing new. */
  def q118BigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .withColumn("words", split(trim(col("text")), " "))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(words) - 1),
          |          i -> concat_ws(' ', slice(words, i, 2)))""".stripMargin))
        .as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val scored = bg.join(c2, Seq("bg")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(-log2(col("c2").cast("double") / col("c1"))).as("bits"))
    Tables.documents(spark, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("bits") / col("n_bigrams"), 4).as("avg_bigram_bits"))
      .orderBy("doc_id")
  }

  /** q123 — PMI word co-occurrence over the top-20 vocabulary: for word
    * pairs (a, b), pmi = log2(P(a,b) / (P(a) P(b))) with probabilities
    * at DOCUMENT granularity — the classic collocation / topic-signal
    * statistic. The pair space is the quadratic trap; it is bounded the
    * same way q106 bounds shingle joins: only the top-20-by-df
    * vocabulary (broadcast) enters pair generation, so each doc emits
    * at most C(20,2) = 190 pairs regardless of corpus size — the
    * candidate volume is corpus-linear with a fixed constant, never
    * vocab^2 over the full Zipf tail. Output: top-30 pairs by PMI among
    * those co-occurring in >= 5 docs. */
  def q123PmiCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"))
    val vocab = docFreqs(spark, dir)
      .orderBy(desc("df"), asc("word")).limit(20)
    val present = termFreqs(spark, dir)
      .join(broadcast(vocab), Seq("word"))
      .select(col("doc_id"), col("word"), col("df"))
    val pairs = present.as("a").join(present.as("b"), Seq("doc_id"))
      .filter(col("a.word") < col("b.word"))
      .groupBy(col("a.word").as("w1"), col("b.word").as("w2"),
        col("a.df").as("df1"), col("b.df").as("df2"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 5)
    pairs.crossJoin(broadcast(nDocs))
      .select(col("w1"), col("w2"), col("n_both"),
        round(log2(col("n_both").cast("double") * col("n_docs") /
          (col("df1") * col("df2"))), 4).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2")).limit(30)
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
  }

  /** q121 — per-domain adaptive quality filtering: a single global
    * quality cutoff over a mixed corpus silently biases the mix (a
    * threshold tuned for encyclopedic text deletes most code or chat),
    * so production curation sets the cutoff PER SOURCE — here each
    * source keeps its docs at or above its own exact p25 of the q39
    * quality score. Scale: one hash agg per source for the thresholds
    * (source cardinality ~ thousands, broadcast back), one broadcast
    * join against the per-doc quality scan — no new shuffle class; the
    * percentile is exact (type-7, matching DuckDB quantile_cont), and
    * the comparison runs against the ROUNDED threshold in both engines
    * so the kept flag can't flip on interpolation ulps. */
  def q121AdaptiveQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .join(q39QualityScore(spark, dir)
        .select(col("doc_id"), col("quality")), Seq("doc_id"))
    val bounds = scored.groupBy("source")
      .agg(round(expr("percentile(quality, 0.25d)"), 6).as("src_p25"))
    scored.join(broadcast(bounds), Seq("source"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("src_p25"), (col("quality") >= col("src_p25")).as("kept"))
      .orderBy("doc_id")
  }

  /** Number of BPE merges q137 learns. Constant in the oracle SQL too —
    * if a corpus ever exhausted its pair space early, the oracle's
    * n_merges literal would mismatch loudly rather than pass weakly. */
  private[graft] val BpeMerges = 16

  /** Distributed BPE vocabulary learning (the tokenizer-training side of
    * the §2.11 LLM-pipeline surface): K iterations of
    * pair-count → global argmax → merge, run over the WORD HISTOGRAM,
    * never the corpus. That histogram discipline is what makes BPE
    * trainable at 100 TB — the corpus is read once to build
    * (word, freq), and every iteration is a groupBy over the histogram's
    * adjacent symbol pairs (map-side partial sums, one tiny shuffle)
    * followed by a 1-row argmax collect. The merge is applied with a
    * codegen'd higher-order `aggregate` lambda (greedy left-to-right,
    * standard BPE semantics — "aaa" + merge (a,a) yields [aa, a]), and
    * each iteration is localCheckpoint'ed so lineage stays flat across
    * K rounds (the same truncation discipline as q73's label
    * propagation).
    *
    * Returns (merge table, tokens_before, tokens_after); merge table
    * rows are (rank, left, right, pairFreq-at-merge-time). */
  private[graft] def bpeTrain(spark: SparkSession, dir: String,
      k: Int): (Seq[(Int, String, String, Long)], Long, Long) = {
    def tokens(words: DataFrame): Long =
      words.agg(sum(size(col("syms")) * col("f"))).collect().head.getLong(0)
    var words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(split(col("w"), "").as("syms"), col("f"))
      .localCheckpoint()
    val before = tokens(words)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val top = words
        .select(posexplode(col("syms")).as(Seq("i", "l")),
          col("syms"), col("f"))
        .filter(col("i") < size(col("syms")) - 1)
        .select(col("l"),
          element_at(col("syms"), col("i") + 2).as("r"), col("f"))
        .groupBy("l", "r").agg(sum(col("f")).as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((rank, l, r, cnt))
        words = words.withColumn("syms", applyMerge(col("syms"), l, r))
          .localCheckpoint()
        rank += 1
      }
    }
    (merges.result(), before, tokens(words))
  }

  /** One BPE merge over a symbol array: each adjacent (l, r) pair, in
    * one left-to-right pass, becomes the symbol l + r. Training (q137)
    * and encoding (q149, [[TextEncode]]) apply merges with it. */
  private[operators] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** The trained tokenizer, built once per (session, dir): q137
    * reports it, q149 (TextEncode) applies it. Timed as its own bench
    * setup row since r16 (VERDICT r15 #3 class) — before, whichever
    * consumer ran first silently absorbed the training wall. */
  private[graft] def bpeCached(spark: SparkSession,
      dir: String): (Seq[(Int, String, String, Long)], Long, Long) =
    graft.sources.DfCache.value(spark, s"bpe_train|$dir")(
      bpeTrain(spark, dir, BpeMerges))

  /** q137 — BPE tokenizer training as a registered query. The summary
    * row carries the parts of the run each checker can pin: the FIRST
    * merge (pair, frequency) is exactly recomputable in SQL, so the
    * DuckDB oracle checks it concretely along with tokens_before and
    * the merge count; the laws (compression happened; the reduction is
    * bounded by the recorded pair counts, since greedy application
    * merges at most the counted occurrences) ride as booleans. The
    * FULL merge table is pinned rank-by-rank against an independent
    * sequential Scala BPE reference in TextOpsBpeSpec — the q125
    * independent-reference pattern for iterative operators whose tail
    * SQL cannot reach. */
  def q137BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (merges, before, after) = bpeCached(spark, dir)
    val (_, l, r, cnt) = merges.head
    spark.range(1).select(
      lit(merges.size).cast("int").as("n_merges"),
      lit(l).as("first_left"),
      lit(r).as("first_right"),
      lit(l + r).as("first_merged"),
      lit(cnt).as("first_freq"),
      lit(before).as("tokens_before"),
      lit(after < before).as("compressed"),
      lit(after >= before - merges.map(_._4).sum)
        .as("reduction_bounded_by_pair_counts"))
  }

  /** q221 vocabulary budgets audited (top-N cut points). */
  private[graft] val CoverageNs = Seq(50, 200, 800)

  /** q221 — VOCABULARY COVERAGE curve: what fraction of all token
    * occurrences the top-N most frequent vocabulary units cover, for
    * candidate vocabulary budgets N — the tokenizer-design question
    * ("how big must the vocab be before OOV mass is negligible?")
    * answered from the corpus itself, the empirical face of Zipf's
    * law. The unit is the word BIGRAM — the BPE merge-candidate space
    * (the driver corpus has a fixed 31-word unigram vocabulary, so the
    * unigram curve is degenerate; the ~900-bigram space has real
    * tail mass).
    *
    * Scale shape: bigram counts are one explode + hash aggregate;
    * each budget's coverage is a TakeOrdered top-N (count desc, unit
    * tie-break — map-side partial top-N, no global window, no full
    * sort) folded to one row. Output is |budgets| rows; everything is
    * exact integers except the final single-division coverage ratio. */
  def q221VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // read by the totals and by every budget's top-N
    val counts = Tables.documents(spark, dir)
      .select(split(trim(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(ws[i-1], ' ', ws[i]))")).as("unit"))
      .groupBy("unit").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).as("n_vocab"))
    CoverageNs.map { n =>
        counts.orderBy(col("n").desc, col("unit")).limit(n)
          .agg(count(lit(1)).as("vocab_used"),
            sum(col("n")).as("covered"))
          .select(lit(n).as("top_n"), col("vocab_used"), col("covered"))
      }
      .reduce(_.unionByName(_))
      .crossJoin(broadcast(totals))
      .select(col("top_n"), col("vocab_used"), col("n_vocab"),
        col("covered"), col("total_tokens"),
        round(col("covered").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
      .orderBy("top_n")
  }

  /** q256 — MULTICLASS CLASSIFICATION REPORT for the q38 language-ID
    * predictor: per-class precision / recall / F1 against the gold
    * `lang` labels, plus accuracy and macro-F1 — the standard
    * evaluation surface the binary q205 AUC cannot provide, run on
    * the one labeled classifier the corpus ships with (any
    * model-vs-gold pair slots into the same fold). A class's row
    * exposes WHERE the predictor fails (q38's is_correct only says
    * how often).
    *
    * Exactness: tp/fp/fn fold as exact BIGINTs from the |classes|²
    * confusion profile; precision/recall are single divisions; F1 is
    * one fixed expression over them (2pr/(p+r), NULL when p+r = 0 in
    * both engines); macro-F1 micro-quantizes per-class F1 before the
    * |classes|-row mean (the q169 order-free fold).
    *
    * Scale shape: the predictor pass is q38's narrow scan; everything
    * after runs on the |classes|² confusion profile. */
  def q256ClassReport(spark: SparkSession, dir: String): DataFrame = {
    val preds = q38LangId(spark, dir).select("lang", "pred_lang")
    val confusion = preds.groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val gold = confusion.groupBy(col("lang").as("cls"))
      .agg(sum(col("n")).as("n_gold"),
        sum(when(col("lang") === col("pred_lang"), col("n"))
          .otherwise(0L)).as("tp"))
    val predTot = confusion.groupBy(col("pred_lang").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    val perClass = gold.join(predTot, Seq("cls"), "left")
      .select(col("cls"), col("n_gold"), col("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .withColumn("p", when(col("n_pred") > 0L,
        col("tp").cast("double") / col("n_pred")))
      .withColumn("r", col("tp").cast("double") / col("n_gold"))
      .withColumn("f1", when(col("p").isNotNull && col("p") + col("r") > 0.0,
        lit(2.0) * col("p") * col("r") / (col("p") + col("r"))))
    val totals = perClass.agg(
      (sum(col("tp")).cast("double") / sum(col("n_gold")))
        .as("accuracy"),
      (sum(expr("cast(round(coalesce(f1, 0.0d) * 1e6, 0) as bigint)"))
        .cast("double") / count(lit(1)) / 1e6).as("macro_f1"))
    perClass.crossJoin(broadcast(totals))
      .select(col("cls"), col("n_gold"), col("n_pred"), col("tp"),
        round(col("p"), 6).as("precision"),
        round(col("r"), 6).as("recall"),
        round(col("f1"), 6).as("f1"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("macro_f1"), 6).as("macro_f1"))
      .orderBy("cls")
  }

  /** Oracle CTEs of the space-split term frequencies: `tokens` (doc_id,
    * word) and `tf` (doc_id, word, tf). */
  private val termFreqCtes: String =
    """tokens AS (
      |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, word, count(*) AS tf
      |  FROM tokens GROUP BY doc_id, word)""".stripMargin

  /** q96's lexical BM25 arm as oracle CTEs: `scored` (doc_id, bm25,
    * n_matched_terms) for the three highest-df query terms `qt`; q120
    * ([[AnnRetrieval]]) fuses it with the vector arm. */
  private[operators] val bm25Ctes: String =
    s"""$termFreqCtes,
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      |       FROM tf GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |qt AS (SELECT word, df FROM dfreq ORDER BY df DESC, word LIMIT 3),
      |scored AS (
      |  SELECT t.doc_id,
      |         round(sum(ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
      |               * (t.tf * (1.2 + 1)) /
      |                 (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / avgdl))),
      |               4) AS bm25,
      |         count(*) AS n_matched_terms
      |  FROM tf t JOIN qt q USING (word) JOIN dl d USING (doc_id)
      |  CROSS JOIN stats
      |  GROUP BY t.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q256_class_report", q256ClassReport _,
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT) AS score_de,
        |    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT) AS score_en,
        |    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT) AS score_es,
        |    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT) AS score_fr,
        |    CAST((length(p) - length(replace(p, ' spark ', ''))) / 7 AS INT) AS score_zh
        |  FROM (SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents)),
        |preds AS (
        |  SELECT lang,
        |       CASE
        |         WHEN score_de >= score_en AND score_de >= score_es
        |              AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |         WHEN score_en >= score_es AND score_en >= score_fr
        |              AND score_en >= score_zh THEN 'en'
        |         WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |         WHEN score_fr >= score_zh THEN 'fr'
        |         ELSE 'zh'
        |       END AS pred_lang
        |  FROM scored),
        |confusion AS (
        |  SELECT lang, pred_lang, count(*) AS n FROM preds GROUP BY 1, 2),
        |gold AS (
        |  SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS n_gold,
        |         CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
        |              AS BIGINT) AS tp
        |  FROM confusion GROUP BY 1),
        |ptot AS (
        |  SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS n_pred
        |  FROM confusion GROUP BY 1),
        |pc AS (
        |  SELECT g.cls, g.n_gold, g.tp,
        |         COALESCE(p.n_pred, 0) AS n_pred,
        |         CASE WHEN COALESCE(p.n_pred, 0) > 0
        |              THEN CAST(g.tp AS DOUBLE) / p.n_pred END AS p,
        |         CAST(g.tp AS DOUBLE) / g.n_gold AS r
        |  FROM gold g LEFT JOIN ptot p ON g.cls = p.cls),
        |pcf AS (
        |  SELECT *, CASE WHEN p IS NOT NULL AND p + r > 0.0
        |                 THEN 2.0 * p * r / (p + r) END AS f1
        |  FROM pc),
        |tot AS (
        |  SELECT CAST(CAST(sum(tp) AS BIGINT) AS DOUBLE)
        |           / CAST(sum(n_gold) AS BIGINT) AS accuracy,
        |         CAST(CAST(sum(CAST(round(COALESCE(f1, 0.0) * 1e6, 0)
        |                        AS BIGINT)) AS BIGINT) AS DOUBLE)
        |           / count(*) / 1e6 AS macro_f1
        |  FROM pcf)
        |SELECT cls, n_gold, n_pred, tp,
        |       round(p, 6) AS precision, round(r, 6) AS recall,
        |       round(f1, 6) AS f1,
        |       round((SELECT accuracy FROM tot), 6) AS accuracy,
        |       round((SELECT macro_f1 FROM tot), 6) AS macro_f1
        |FROM pcf ORDER BY cls""".stripMargin),
    // first merge + histogram totals recomputed exactly; iterative tail
    // pinned by the independent Scala reference in TextOpsBpeSpec
    QueryDef("q137_bpe_train", q137BpeTrain _,
      s"""WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM words
        |       WHERE len(w) > 0 GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, CAST(i AS INT), 1) AS l,
        |         substr(w, CAST(i AS INT) + 1, 1) AS r,
        |         sum(f) AS cnt
        |  FROM (SELECT w, f, unnest(range(1, len(w))) AS i FROM wf)
        |  GROUP BY 1, 2)
        |SELECT CAST($BpeMerges AS INT) AS n_merges,
        |       l AS first_left,
        |       r AS first_right,
        |       l || r AS first_merged,
        |       CAST(cnt AS BIGINT) AS first_freq,
        |       (SELECT CAST(sum(len(w) * f) AS BIGINT) FROM wf)
        |         AS tokens_before,
        |       true AS compressed,
        |       true AS reduction_bounded_by_pair_counts
        |FROM pairs ORDER BY cnt DESC, l, r LIMIT 1""".stripMargin),
    // document-granularity PMI: P(a), P(b), P(a,b) all from doc counts;
    // the top-20 vocab gate bounds the pair space in both engines
    QueryDef("q123_pmi_cooccurrence", q123PmiCooccurrence _,
      """WITH tokens AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |dfreq AS (SELECT word, count(*) AS df FROM tokens GROUP BY 1),
        |vocab AS (SELECT word, df FROM dfreq
        |          ORDER BY df DESC, word LIMIT 20),
        |present AS (
        |  SELECT t.doc_id, t.word, v.df
        |  FROM tokens t JOIN vocab v USING (word)),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |pairs AS (
        |  SELECT a.word AS w1, b.word AS w2,
        |         a.df AS df1, b.df AS df2, count(*) AS n_both
        |  FROM present a JOIN present b
        |    ON a.doc_id = b.doc_id AND a.word < b.word
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(*) >= 5)
        |SELECT w1, w2, n_both,
        |       round(log2(CAST(n_both AS DOUBLE) * n_docs
        |                  / (df1 * df2)), 4) AS pmi
        |FROM pairs CROSS JOIN n
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin),
    // quality CTEs = q39's oracle; threshold = exact continuous p25 per
    // source, rounded to 6 in BOTH engines before the kept comparison
    QueryDef("q121_adaptive_quality", q121AdaptiveQuality _,
      """WITH base AS (
        |  SELECT doc_id, source, text, ' ' || text || ' ' AS p,
        |         len(string_split(trim(text), ' ')) AS n_words
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, source, n_words,
        |         CAST((length(p) - length(replace(p, ' the ', ''))) / 5
        |              + (length(p) - length(replace(p, ' a ', ''))) / 3 AS INT)
        |           AS n_stopwords
        |  FROM base),
        |q AS (
        |  SELECT doc_id, source,
        |         round(ln(1.0 + n_words)
        |               * (1.0 - CAST(n_stopwords AS DOUBLE) / n_words), 6)
        |           AS quality
        |  FROM counted),
        |bounds AS (
        |  SELECT source, round(quantile_cont(quality, 0.25), 6) AS src_p25
        |  FROM q GROUP BY 1)
        |SELECT doc_id, source, quality, src_p25,
        |       quality >= src_p25 AS kept
        |FROM q JOIN bounds USING (source)
        |ORDER BY doc_id""".stripMargin),
    QueryDef("q118_bigram_surprisal", q118BigramSurprisal _,
      """WITH bgr AS (
        |  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS bg,
        |         words[i] AS w1
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS words,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')) - 1)) AS i
        |        FROM documents)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bgr GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bgr GROUP BY 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |         sum(-log2(CAST(c2.c2 AS DOUBLE) / c1.c1)) AS bits
        |  FROM bgr JOIN c2 USING (bg) JOIN c1 USING (w1)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       round(bits / n_bigrams, 4) AS avg_bigram_bits
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    QueryDef("q111_lm_surprisal", q111LmSurprisal _,
      s"""WITH $termFreqCtes,
        |vocab AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ctf
        |          FROM tf GROUP BY word),
        |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_total FROM vocab),
        |agg AS (
        |  SELECT doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tokens,
        |         sum(CAST(t.tf AS DOUBLE)
        |             * -log2(CAST(v.ctf AS DOUBLE) / t_total)) AS bits
        |  FROM tf t JOIN vocab v USING (word) CROSS JOIN tot
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |       round(bits / n_tokens, 4) AS avg_surprisal_bits
        |FROM agg ORDER BY doc_id""".stripMargin),
    QueryDef("q96_bm25", q96Bm25 _,
      s"""WITH $bm25Ctes,
        |top AS (SELECT doc_id, bm25, n_matched_terms FROM scored
        |        ORDER BY bm25 DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
        |         AS rank,
        |       doc_id, bm25, n_matched_terms
        |FROM top ORDER BY rank""".stripMargin),
    QueryDef("q86_tfidf", q86Tfidf _,
      s"""WITH $termFreqCtes,
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.word,
        |         round(CAST(t.tf AS DOUBLE)
        |               * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS score
        |  FROM tf t JOIN dfreq d USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, score,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |                ORDER BY score DESC, word) AS INT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, word, score FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    QueryDef("q87_entropy", q87Entropy _,
      s"""WITH $termFreqCtes,
        |agg AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct,
        |         sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS sum_tlnt
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |       round(ln(CAST(n_tokens AS DOUBLE)) - sum_tlnt / n_tokens, 4)
        |         AS entropy,
        |       CASE WHEN n_distinct > 1 THEN
        |         round((ln(CAST(n_tokens AS DOUBLE)) - sum_tlnt / n_tokens)
        |               / ln(CAST(n_distinct AS DOUBLE)), 4)
        |       END AS norm_entropy
        |FROM agg ORDER BY doc_id""".stripMargin),
    QueryDef("q38_lang_id", q38LangId _,
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST((length(p) - length(replace(p, ' der ', ''))) / 5 AS INT) AS score_de,
        |    CAST((length(p) - length(replace(p, ' the ', ''))) / 5 AS INT) AS score_en,
        |    CAST((length(p) - length(replace(p, ' el ', ''))) / 4 AS INT) AS score_es,
        |    CAST((length(p) - length(replace(p, ' le ', ''))) / 4 AS INT) AS score_fr,
        |    CAST((length(p) - length(replace(p, ' spark ', ''))) / 7 AS INT) AS score_zh
        |  FROM (SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents))
        |SELECT doc_id, lang,
        |       CASE
        |         WHEN score_de >= score_en AND score_de >= score_es
        |              AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |         WHEN score_en >= score_es AND score_en >= score_fr
        |              AND score_en >= score_zh THEN 'en'
        |         WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |         WHEN score_fr >= score_zh THEN 'fr'
        |         ELSE 'zh'
        |       END AS pred_lang,
        |       (CASE
        |         WHEN score_de >= score_en AND score_de >= score_es
        |              AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |         WHEN score_en >= score_es AND score_en >= score_fr
        |              AND score_en >= score_zh THEN 'en'
        |         WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |         WHEN score_fr >= score_zh THEN 'fr'
        |         ELSE 'zh'
        |       END = lang) AS is_correct,
        |       score_de, score_en, score_es, score_fr, score_zh
        |FROM scored ORDER BY doc_id""".stripMargin),
    QueryDef("q39_quality_score", q39QualityScore _,
      """WITH base AS (
        |  SELECT doc_id, text, ' ' || text || ' ' AS p,
        |         length(text) AS n_chars_actual,
        |         len(string_split(trim(text), ' ')) AS n_words
        |  FROM documents),
        |counted AS (
        |  SELECT doc_id, text, n_chars_actual, n_words,
        |         CAST((length(p) - length(replace(p, ' the ', ''))) / 5
        |              + (length(p) - length(replace(p, ' a ', ''))) / 3 AS INT)
        |           AS n_stopwords
        |  FROM base)
        |SELECT doc_id, n_chars_actual, CAST(n_words AS INT) AS n_words,
        |       round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_words, 6)
        |         AS avg_word_len,
        |       n_stopwords,
        |       round(CAST(n_stopwords AS DOUBLE) / n_words, 6) AS stopword_ratio,
        |       round(ln(1.0 + n_words)
        |             * (1.0 - CAST(n_stopwords AS DOUBLE) / n_words), 6) AS quality
        |FROM counted ORDER BY doc_id""".stripMargin),
    QueryDef("q40_token_count", q40TokenCount _,
      """SELECT doc_id,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT)
        |         AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |            AS INT) AS n_bpe_tokens,
        |       round(CAST(length(text) AS DOUBLE)
        |             / len(string_split_regex(trim(text), '\s+')), 6)
        |         AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q41_fingerprint", q41Fingerprint _,
      """WITH norm AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                             ' +', ' ', 'g')) AS normalized
        |  FROM documents)
        |SELECT doc_id, md5(normalized) AS fingerprint,
        |       ('0x' || substr(md5(normalized), 1, 15))::BIGINT AS fingerprint60
        |FROM norm ORDER BY doc_id""".stripMargin),
    QueryDef("q42_multimodal_meta", q42MultimodalMeta _,
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       md5(text) AS checksum,
        |       'utf8-text' AS media_kind,
        |       n_chars AS meta_width,
        |       CAST(1 AS BIGINT) AS meta_height
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q221_vocab_coverage", q221VocabCoverage _,
      {
      val covArms = CoverageNs.map { n =>
        s"""  SELECT $n AS top_n, count(*) AS vocab_used,
           |         CAST(sum(n) AS BIGINT) AS covered
           |  FROM ranked WHERE rn <= $n""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
        |  SELECT ws[i] || ' ' || ws[i + 1] AS unit
        |  FROM (SELECT string_split(trim(text), ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')) - 1)) AS i
        |        FROM documents)
        |  WHERE len(ws) >= 2),
        |counts AS (SELECT unit, count(*) AS n FROM toks GROUP BY unit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
        |               count(*) AS n_vocab
        |        FROM counts),
        |ranked AS (SELECT unit, n,
        |                  row_number() OVER (ORDER BY n DESC, unit) AS rn
        |           FROM counts),
        |cov AS (
        |$covArms)
        |SELECT CAST(cov.top_n AS INTEGER) AS top_n, cov.vocab_used,
        |       t.n_vocab, cov.covered, t.total_tokens,
        |       round(CAST(cov.covered AS DOUBLE) / t.total_tokens, 6)
        |         AS coverage
        |FROM cov CROSS JOIN tot t
        |ORDER BY top_n""".stripMargin
    }))
}
