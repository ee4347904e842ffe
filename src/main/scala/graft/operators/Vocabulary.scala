package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] vocabulary-richness estimation (q230): the Good–Turing
  * unseen-probability mass and the (bias-corrected) Chao1 species
  * estimate per source — the corpus-design question q221's coverage
  * curve cannot answer: not "how much do the TOP-N units cover?" but
  * "how much vocabulary have we NOT SEEN yet, and how big is the true
  * vocabulary likely to be?". A source whose unseen mass is high still
  * yields new tokens per crawled byte (keep crawling / keep its
  * tokenizer budget generous); a saturated source has diminishing
  * vocabulary returns.
  *
  * Good–Turing (Good 1953, see PAPERS.md): the probability that the
  * NEXT token is unseen ≈ f1/N, where f1 = hapax count (words seen
  * exactly once) and N = token count. Chao1 (Chao 1984),
  * bias-corrected form: V̂ = V + f1·(f1−1)/(2·(f2+1)) — defined even
  * when f2 = 0, a lower bound on true vocabulary size.
  *
  * Exactness: V, N, f1, f2 fold as exact BIGINTs; the two estimates
  * are formed in DOUBLES with identical op shapes in both engines
  * (f1² approaches int64 at corpus scale — the q227 overflow lesson).
  *
  * Scale shape: one tokenize+explode pass collapsed immediately to the
  * (source, word) histogram (combinable — partial aggregation
  * map-side), then a frequency-of-frequencies fold to ≤ |sources| ×
  * max-count rows, then arithmetic on a |sources|-row profile. The
  * word histogram is the same shuffle key discipline every dedup path
  * uses: content-keyed, cardinality grows with the data, no fixed-key
  * hot spot. */
object Vocabulary {

  /** The per-source word histogram shared by q230 and q240 (cached —
    * one tokenize+fold pass feeds both richness and Zipf audits). */
  private def wordHist(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"vocab_hist|$dir")(
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
            .as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("cnt")))

  /** q230 — per-source Good–Turing unseen mass + Chao1 richness. */
  def q230VocabRichness(spark: SparkSession, dir: String): DataFrame = {
    val hist = wordHist(spark, dir)
    def d(c: Column): Column = c.cast("double")
    hist.groupBy("source").agg(
        count(lit(1)).as("v_obs"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("source"), col("v_obs"), col("n_tokens"), col("f1"),
        col("f2"),
        round(d(col("f1")) / d(col("n_tokens")), 6).as("p_unseen"),
        round(d(col("v_obs")) +
          d(col("f1")) * (d(col("f1")) - 1.0) /
            ((d(col("f2")) + 1.0) * 2.0), 2).as("chao1"))
      .orderBy("source")
  }

  /** Rank budget for the q240 Zipf fit: the fit runs over the top-K
    * ranks only, so the window is map-side-limited (WindowGroupLimit)
    * and the regression input is K rows per source at ANY corpus
    * size — the honest scale shape for a law whose tail is noise
    * anyway. */
  private[graft] val ZipfTopK = 1000

  /** q240 — ZIPF RANK-FREQUENCY SLOPE per source: OLS of ln(freq) on
    * ln(rank) over the top-[[ZipfTopK]] words — the power-law exponent
    * audit (natural text ≈ −1; a slope far from it signals templated /
    * boilerplate or synthetic content). q221 measures coverage of a
    * budget; this fits the DISTRIBUTION LAW itself.
    *
    * Exactness: ranks break ties on (count desc, word asc) so the
    * rank table is deterministic; ln(rank) and ln(count) are
    * micro-quantized to BIGINT once per row (ln of an exact integer is
    * 1-ulp — quantization makes the regression input identical
    * cross-engine, the q169 discipline), the five moment sums fold as
    * exact BIGINTs, and slope/R² form in DOUBLES (Σx·Σy exceeds int64
    * — the q227 lesson).
    *
    * Scale shape: rank = row_number filtered to K plans as
    * WindowGroupLimit (map-side top-K per source before the shuffle,
    * the q209 precedent); the regression is a K-row-per-source fold. */
  def q240ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("word"))
    val ranked = wordHist(spark, dir)
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= ZipfTopK)
      .select(col("source"),
        expr("cast(round(ln(cast(r as double)) * 1e6, 0) as bigint)")
          .as("x"),
        expr("cast(round(ln(cast(cnt as double)) * 1e6, 0) as bigint)")
          .as("y"))
    def d(c: Column): Column = c.cast("double")
    ranked.groupBy("source")
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
      .filter(col("k") >= 2L && col("deny") =!= 0.0)
      .select(col("source"), col("k").as("n_ranks"),
        round(col("num") / col("denx"), 6).as("zipf_slope"),
        round((col("num") * col("num")) / (col("denx") * col("deny")), 6)
          .as("r2"))
      .orderBy("source")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q240_zipf_slope", q240ZipfSlope _,
      s"""WITH hist AS (
        |  SELECT source, word, count(*) AS cnt
        |  FROM (SELECT source,
        |               unnest(list_filter(string_split(trim(text), ' '),
        |                                  w -> length(w) > 0)) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT source,
        |         CAST(round(ln(CAST(r AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
        |         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
        |  FROM (SELECT source, cnt,
        |               row_number() OVER (PARTITION BY source
        |                 ORDER BY cnt DESC, word) AS r
        |        FROM hist)
        |  WHERE r <= $ZipfTopK),
        |m AS (
        |  SELECT source, count(*) AS k,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM ranked GROUP BY 1),
        |f AS (
        |  SELECT source, k,
        |         CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        |         CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT source, k AS n_ranks,
        |       round(num / denx, 6) AS zipf_slope,
        |       round((num * num) / (denx * deny), 6) AS r2
        |FROM f WHERE k >= 2 AND deny <> 0.0
        |ORDER BY source""".stripMargin),
    QueryDef("q230_vocab_richness", q230VocabRichness _,
      """WITH hist AS (
        |  SELECT source, word, count(*) AS cnt
        |  FROM (SELECT source,
        |               unnest(list_filter(string_split(trim(text), ' '),
        |                                  w -> length(w) > 0)) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |prof AS (
        |  SELECT source, count(*) AS v_obs,
        |         CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |         CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS f1,
        |         CAST(count(*) FILTER (WHERE cnt = 2) AS BIGINT) AS f2
        |  FROM hist GROUP BY 1)
        |SELECT source, v_obs, n_tokens, f1, f2,
        |       round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |         AS p_unseen,
        |       round(CAST(v_obs AS DOUBLE)
        |             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
        |               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 2) AS chao1
        |FROM prof ORDER BY source""".stripMargin))
}
