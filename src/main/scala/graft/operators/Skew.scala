package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Skew-handling utilities (SURVEY.md §4.2 / the 100 TB mandate).
  *
  * AQE's skew-join splitting covers joins automatically; what it does NOT
  * cover is a single hot GROUP BY key overwhelming one reducer (think:
  * the empty-string document fingerprint, the null-ish FK, one brand with
  * half the corpus). [[saltedAggSum]] is the standard two-phase fix:
  * shuffle once on (key, salt) spreading the hot key over `salt`
  * reducers, then once more on key over the tiny partial-aggregate
  * output. Sound for any decomposable aggregate; exposed here for SUM and
  * COUNT, which is what the pharma fact builds use.
  */
object Skew {

  /** Two-phase salted sum/count: algebraically identical to
    * `df.groupBy(keys).agg(sum(valueCol), count(*))` for any data, but
    * the first shuffle spreads each key over `salt` buckets. */
  def saltedAggSum(df: DataFrame, keys: Seq[String], valueCol: String,
                   salt: Int = 16): DataFrame = {
    val keyCols: Seq[Column] = keys.map(col)
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
      .groupBy(keyCols :+ col("__salt"): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
           sum(col("__pcnt")).as("n_rows"))
  }

  /** q75 — salted aggregation on an inherently hot key space (lineitem
    * has only 3 return flags: without salting 600k+ rows land on 3
    * reducers; with it the first shuffle spreads over 3x16 buckets).
    * The oracle is the PLAIN group-by — salting must be invisible in
    * the result. */
  def q75SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    saltedAggSum(Tables.lineitem(spark, dir),
        Seq("l_returnflag"), "l_extendedprice")
      .select(col("l_returnflag").as("returnflag"),
        round(col("sum_l_extendedprice"), 2).as("total_price"),
        col("n_rows"))
      .orderBy("returnflag")

  /** Heavy hitters reported by q206. */
  private[graft] val TopHitters = 5

  /** q206 — group-key SKEW PROFILER: the audit a data engineer runs
    * BEFORE choosing a shuffle strategy (salt factor, AQE skew
    * thresholds, broadcast cutoffs) — per-key row counts of a join/agg
    * key folded to one decision row: key cardinality, max/mean/p50/
    * p90/p99 of per-key counts, the top-[[TopHitters]] keys' share in
    * ppm, and the suggested salt factor ceil(max / p90) — the spread
    * that levels the hottest reducer to a high-percentile one (q75's
    * salt knob, derived from data instead of guessed).
    *
    * Scale: the per-key count table is ONE map-side-combinable fold of
    * the scan, key-cardinality-bounded; every statistic (exact
    * percentiles included) runs on that profile table, and the top-k
    * is a TakeOrdered over it. Integer counts end-to-end; mean/p*
    * interpolate between integers (exact in double, q56's precedent);
    * share is integer ppm via `div`. */
  def q206SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("key"))
      .agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("key")).limit(TopHitters)
      .agg(sum(col("n")).as("top_n"))
    counts
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        expr("percentile(n, 0.5d)").as("p50"),
        expr("percentile(n, 0.9d)").as("p90"),
        expr("percentile(n, 0.99d)").as("p99"))
      .crossJoin(broadcast(top))
      .select(col("n_keys"), col("n_rows"), col("max_n"),
        round(col("p50"), 2).as("p50_n"),
        round(col("p90"), 2).as("p90_n"),
        round(col("p99"), 2).as("p99_n"),
        expr("top_n * 1000000 div n_rows").as("top5_share_ppm"),
        round(col("max_n").cast("double") * col("n_keys") / col("n_rows"), 4)
          .as("skew_ratio"),
        ceil(col("max_n").cast("double") / col("p90")).cast("long")
          .as("suggested_salt"))
  }

  /** q259's order-statistic ladder (top-k tail sizes). */
  private[graft] val HillKs = Seq(50, 100, 200)

  /** q259 — HILL TAIL-INDEX ladder over user spend: the
    * heavy-tail-heaviness estimate α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1))
    * at three tail depths — the quantitative companion to q185's
    * Pareto deciles and the input q245's clip-bound choice really
    * depends on (α ≤ 2 means infinite variance: clipping is not
    * optional). Stability of α̂ across the k-ladder is the standard
    * "is the tail really power-law?" read.
    *
    * Exactness: the ladder runs on the top-(k+1) ORDER STATISTICS
    * (ties broken on user_id, TakeOrdered — map-side partial top-k);
    * each ln ratio is quantized ONCE to micro-units so the tail sum
    * folds as an exact BIGINT, and α̂ is one division k·1e6/Σ.
    *
    * Scale shape: one user fold, one top-(k_max+1) TakeOrdered,
    * ladder arithmetic on ≤ k_max rows. */
  def q259HillTail(spark: SparkSession, dir: String): DataFrame = {
    val kMax = HillKs.max
    val top = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
      .orderBy(col("cents").desc, col("user_id"))
      .limit(kMax + 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cents").desc, col("user_id"))
    val ranked = top.withColumn("r", row_number().over(w))
    val arms = HillKs.map { k =>
      val xk1 = ranked.filter(col("r") === k + 1)
        .select(col("cents").as("x_k1"))
      ranked.filter(col("r") <= k)
        .crossJoin(broadcast(xk1))
        .select(expr(
          "cast(round(ln(cast(cents as double) / cast(x_k1 as double))" +
            " * 1e6, 0) as bigint)").as("t_micro"),
          col("x_k1"))
        .groupBy("x_k1")
        .agg(sum(col("t_micro")).as("s_micro"))
        .select(lit(k).as("k"), col("x_k1"),
          when(col("s_micro") > 0L,
            round(lit(k.toDouble) * 1e6 / col("s_micro").cast("double"), 4))
            .as("hill_alpha"))
    }
    arms.reduce(_ unionAll _).orderBy("k")
  }

  /** q279 — OTSU SPLIT of the user-spend distribution: the single
    * threshold maximizing between-class variance (Otsu 1979 —
    * PAPERS.md, the classic histogram-binarization criterion) over
    * per-user spend — the DATA-DERIVED answer to "where does 'heavy
    * spender' start?" that q184's RFM quantiles and q122's fixed
    * length buckets both assume rather than derive. Reports the
    * threshold and both classes' size/mean, ready to feed a
    * segment-keyed query (q184-style) or a curation cut (q121-style).
    *
    * Exactness: candidates are the DISTINCT spend values; cumulative
    * class counts/sums ride ONE sorted window pass (the q262
    * single-pass discipline, full-frame totals included); the
    * objective σ²_B ∝ (s0·n1 − s1·n0)²/(n0·n1) forms its inner term
    * as an exact BIGINT and squares in doubles (the q227 rule); the
    * winner is a TakeOrdered head on (objective DESC, value ASC) —
    * deterministic, no second global sort. */
  def q279OtsuThreshold(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"))
    val byVal = spend.groupBy("cents").agg(count(lit(1)).as("cnt"))
      .withColumn("w", col("cnt") * col("cents"))
    // both prefix sums ride one distributed pass over the
    // distinct-spend profile (grows with users — no single-task
    // window); the grand totals ride as a broadcast scalar
    val totals = broadcast(byVal.agg(sum(col("cnt")).as("n_all"),
      sum(col("w")).as("s_all")))
    val cum = DistributedRank.withRunningTotals(byVal,
        Seq("cnt" -> "n0", "w" -> "s0"), col("cents").asc)
      .crossJoin(totals)
      .select(col("cents"), col("n0"), col("s0"), col("n_all"),
        col("s_all"))
    cum.filter(col("n0") < col("n_all"))
      .withColumn("n1", col("n_all") - col("n0"))
      .withColumn("s1", col("s_all") - col("s0"))
      .withColumn("d", col("s0") * col("n1") - col("s1") * col("n0"))
      .withColumn("objective",
        col("d").cast("double") * col("d").cast("double") /
          (col("n0") * col("n1")).cast("double"))
      .orderBy(col("objective").desc, col("cents"))
      .limit(1)
      // class means are rounded to whole cents with exact integer
      // HALF-UP ((2s+n) div 2n — positive domain) and displayed with
      // ONE exact-integer division: round(double, 2) here sat on a
      // literal half-cent boundary (s0/n0 = …684.5 cents at sf0.001)
      // where Spark's shortest-repr BigDecimal rounds up and DuckDB's
      // exact binary expansion rounds down
      .select(round(col("cents").cast("double") / 100.0, 2)
          .as("threshold"),
        col("n0").as("n_below"), col("n1").as("n_above"),
        (expr("(2 * s0 + n0) div (2 * n0)").cast("double") / 100.0)
          .as("mean_below"),
        (expr("(2 * s1 + n1) div (2 * n1)").cast("double") / 100.0)
          .as("mean_above"))
  }

  private def hillSql: String = {
    val kMax = HillKs.max
    val arms = HillKs.map { k =>
      s"""SELECT $k AS k, x.x_k1,
         |       CASE WHEN s.s_micro > 0
         |            THEN round($k.0 * 1e6 / CAST(s.s_micro AS DOUBLE), 4)
         |       END AS hill_alpha
         |FROM (SELECT cents AS x_k1 FROM ranked WHERE r = $k + 1) x
         |CROSS JOIN
         |     (SELECT CAST(sum(CAST(round(ln(CAST(cents AS DOUBLE)
         |          / CAST((SELECT cents FROM ranked WHERE r = $k + 1)
         |                 AS DOUBLE)) * 1e6, 0) AS BIGINT)) AS BIGINT)
         |        AS s_micro
         |      FROM ranked WHERE r <= $k) s""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ut AS (
       |  SELECT user_id,
       |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
       |              AS BIGINT) AS cents
       |  FROM events GROUP BY 1),
       |ranked AS (
       |  SELECT cents,
       |         row_number() OVER (ORDER BY cents DESC, user_id) AS r
       |  FROM ut
       |  ORDER BY cents DESC, user_id LIMIT ${kMax + 1})
       |SELECT * FROM ($arms)
       |ORDER BY k""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q279_otsu_threshold", q279OtsuThreshold _,
      """WITH spend AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |by_val AS (
        |  SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        |  FROM spend GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |         CAST(sum(cnt) OVER (ORDER BY cents
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n0,
        |         CAST(sum(cnt * cents) OVER (ORDER BY cents
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s0,
        |         CAST(sum(cnt) OVER () AS BIGINT) AS n_all,
        |         CAST(sum(cnt * cents) OVER () AS BIGINT) AS s_all
        |  FROM by_val),
        |cand AS (
        |  SELECT cents, n0, s0, n_all - n0 AS n1, s_all - s0 AS s1
        |  FROM cum WHERE n0 < n_all),
        |scored AS (
        |  SELECT cents, n0, s0, n1, s1, s0 * n1 - s1 * n0 AS d
        |  FROM cand),
        |best AS (
        |  SELECT * FROM scored
        |  ORDER BY CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        |           / CAST(n0 * n1 AS DOUBLE) DESC, cents
        |  LIMIT 1)
        |SELECT round(CAST(cents AS DOUBLE) / 100.0, 2) AS threshold,
        |       n0 AS n_below, n1 AS n_above,
        |       CAST((2 * s0 + n0) // (2 * n0) AS DOUBLE) / 100.0
        |         AS mean_below,
        |       CAST((2 * s1 + n1) // (2 * n1) AS DOUBLE) / 100.0
        |         AS mean_above
        |FROM best""".stripMargin),
    QueryDef("q259_hill_tail", q259HillTail _, hillSql),
    QueryDef("q75_salted_agg", q75SaltedAgg _,
      """SELECT l_returnflag AS returnflag,
        |       round(sum(l_extendedprice), 2) AS total_price,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q206_skew_profile", q206SkewProfile _,
      s"""WITH counts AS (
        |  SELECT l_partkey AS key, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |top AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS top_n FROM (
        |    SELECT n FROM counts ORDER BY n DESC, key
        |    LIMIT $TopHitters)),
        |agg AS (
        |  SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(max(n) AS BIGINT) AS max_n,
        |         quantile_cont(CAST(n AS DOUBLE), 0.5) AS p50,
        |         quantile_cont(CAST(n AS DOUBLE), 0.9) AS p90,
        |         quantile_cont(CAST(n AS DOUBLE), 0.99) AS p99
        |  FROM counts)
        |SELECT n_keys, n_rows, max_n,
        |       round(p50, 2) AS p50_n,
        |       round(p90, 2) AS p90_n,
        |       round(p99, 2) AS p99_n,
        |       CAST((SELECT top_n FROM top) * 1000000 // n_rows
        |            AS BIGINT) AS top5_share_ppm,
        |       round(CAST(max_n AS DOUBLE) * n_keys / n_rows, 4)
        |         AS skew_ratio,
        |       CAST(ceil(CAST(max_n AS DOUBLE) / p90) AS BIGINT)
        |         AS suggested_salt
        |FROM agg""".stripMargin))
}
