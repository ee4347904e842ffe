package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] relational operator breadth (SURVEY.md §2 J5/A6/A7/T2/F8, §2.5,
  * §2.6) — the join types, grouping constructs, window functions, set
  * operations and scalar-function families the reference lacks but a user
  * of a complete engine expects. Every query is declarative DataFrame API
  * (Catalyst handles pushdown/pruning/join selection); outputs carry a
  * total ORDER BY for the oracle hash compare.
  */
object Breadth {

  private def money(c: org.apache.spark.sql.Column) = round(c, 2)

  /** q13 — left-semi join (J5): customers having >=1 order above 300k,
    * counted per market segment. Semi avoids the fact-side duplication an
    * inner join + distinct would shuffle. */
  def q13SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("mktsegment")
  }

  /** q14 — left-anti join (J5): customers with NO order in 1996. */
  def q14AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val o96 = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1996)
    cust.join(o96, cust("c_custkey") === o96("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("mktsegment")
  }

  /** q15 — full-outer join (J5): per-customer order counts of 1996 vs 1997;
    * customers active in only one year surface through the outer side
    * (counts coalesced to 0). */
  def q15FullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def yearCounts(y: Int, alias: String) = ord
      .filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey").as(s"ck_$alias"))
      .agg(count(lit(1)).as(s"cnt_$alias"))
    val a = yearCounts(1996, "a")
    val b = yearCounts(1997, "b")
    a.join(b, a("ck_a") === b("ck_b"), "full_outer")
      .select(
        coalesce(col("ck_a"), col("ck_b")).as("custkey"),
        coalesce(col("cnt_a"), lit(0L)).as("orders_1996"),
        coalesce(col("cnt_b"), lit(0L)).as("orders_1997"))
      .orderBy("custkey")
  }

  /** q16 — cross join (J5): region x distinct return flags grid. */
  def q16CrossJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).select(col("r_name").as("region"))
    val flags = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("returnflag")).distinct()
    region.crossJoin(flags).orderBy("region", "returnflag")
  }

  /** q17 — ROLLUP (A6) over (year, quarter) with GROUPING flags. */
  def q17Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).as("sale_year"),
              quarter(col("o_orderdate")).as("sale_quarter"),
              col("o_totalprice"))
      .rollup(col("sale_year"), col("sale_quarter"))
      .agg(money(sum(col("o_totalprice"))).as("total_price"),
           count(lit(1)).as("n_orders"),
           grouping(col("sale_year")).cast("int").as("g_year"),
           grouping(col("sale_quarter")).cast("int").as("g_quarter"))
      .select(coalesce(col("sale_year"), lit(-1)).as("sale_year"),
              coalesce(col("sale_quarter"), lit(-1)).as("sale_quarter"),
              col("total_price"), col("n_orders"),
              col("g_year"), col("g_quarter"))
      .orderBy("sale_year", "sale_quarter")

  /** q18 — CUBE (A6) over (returnflag, linestatus). */
  def q18Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
           money(sum(col("l_quantity"))).as("total_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("n_rows"), col("total_qty"))
      .orderBy("returnflag", "linestatus")

  /** q19 — GROUPING SETS (A6) via Spark SQL. */
  def q19GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    // one view name per dir: overlapping calls on different dirs must
    // not resolve each other's view
    val view = s"graft_orders_v_${Tables.nameTag(dir)}"
    Tables.orders(spark, dir).createOrReplaceTempView(view)
    spark.sql(
      s"""SELECT coalesce(year(o_orderdate), -1) AS sale_year,
        |       coalesce(quarter(o_orderdate), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM $view
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (quarter(o_orderdate)), ())
        |ORDER BY sale_year, sale_quarter""".stripMargin)
  }

  /** q20 — ranking windows (§2.5): top-3 parts per brand by revenue;
    * rank/dense_rank/row_number over a totally-ordered frame. */
  def q20WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val rev = li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand").as("brand"), col("p_partkey").as("partkey"))
      .agg(money(sum(col("l_extendedprice"))).as("revenue"))
    val w = Window.partitionBy(col("brand"))
      .orderBy(desc("revenue"), asc("partkey"))
    rev.select(col("brand"), col("partkey"), col("revenue"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy("brand", "rn")
  }

  /** q21 — analytic windows with explicit frames (§2.5): monthly revenue
    * with lag/lead/running total/3-month moving average. */
  def q21WindowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(money(sum(col("o_totalprice"))).as("revenue"))
    val w = Window.orderBy("month")
    monthly.select(col("month"), col("revenue"),
        money(lag(col("revenue"), 1).over(w)).as("prev_revenue"),
        money(lead(col("revenue"), 1).over(w)).as("next_revenue"),
        money(sum(col("revenue"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .as("running_total"),
        round(avg(col("revenue"))
          .over(w.rowsBetween(-2, Window.currentRow)), 2).as("moving_avg3"))
      .orderBy("month")
  }

  /** q22 — set operations (T2): INTERSECT / EXCEPT / UNION-distinct over
    * the 1996 vs 1997 active-customer sets, as one summary row. */
  def q22SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    def active(y: Int) = ord.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey").as("custkey")).distinct()
    val a = active(1996)
    val b = active(1997)
    val inter = a.intersect(b).agg(count(lit(1)).as("n_intersect"))
    val exc = a.except(b).agg(count(lit(1)).as("n_except"))
    val uni = a.union(b).distinct().agg(count(lit(1)).as("n_union"))
    inter.crossJoin(exc).crossJoin(uni)
  }

  /** q23 — multi-distinct aggregation (A5): exact distinct suppliers and
    * customers per nation. */
  def q23DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(countDistinct(col("s_suppkey")).as("n_suppliers"))
    val cust = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"))
    nat.join(supp, Seq("nationkey"), "left_outer")
      .join(cust, Seq("nationkey"), "left_outer")
      .select(col("nation"),
              coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
              coalesce(col("n_customers"), lit(0L)).as("n_customers"))
      .orderBy("nation")
  }

  /** q24 — string scalar family (F8) over documents. */
  def q24ScalarString(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(col("text")).as("text_len"),
        substring(col("text"), 1, 10).as("prefix10"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
        upper(col("source")).as("source_upper"),
        concat(col("lang"), lit(":"), col("source")).as("lang_source"))
      .orderBy("doc_id")

  /** q25 — JSON access (F8) over events.props. */
  def q25Json(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
              get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           round(avg(col("k")), 6).as("avg_k"),
           max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** q108 — VARIANT shredding (F8's scale path on Spark 4): `props` is
    * parsed ONCE into a binary variant column, then every field access
    * is a cheap typed `variant_get` path lookup — vs `get_json_object`
    * re-parsing the string per extraction (q25 keeps that form as the
    * classic surface). At 100 TB the difference compounds: parquet
    * variant shredding stores hot paths columnarly so the scan prunes
    * to the accessed paths, and N extractions cost one parse instead of
    * N. Typed gets return NULL on absent paths (no exceptions mid-scan)
    * and `is_variant_null` distinguishes JSON null from absent — the
    * semantics a lossy string-regex pipeline gets wrong. */
  def q108VariantShred(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'int')").as("k_int"),
        expr("variant_get(v, '$.k', 'string')").as("k_str"),
        expr("variant_get(v, '$.absent', 'string')").as("absent_str"),
        expr("is_variant_null(variant_get(v, '$.k'))").as("k_is_json_null"))
      .orderBy("event_id")

  /** q26 — array functions (F8) over embeddings: size / element access /
    * elementwise fold, computed in double like the oracle. */
  def q26ArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
        round(expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"),
          6).as("vec_sum"))
      .orderBy("vec_id")

  /** q27 — date/time scalar family (F1-F3 generalized): per (year, month)
    * order counts and day-of-month extremes. */
  def q27DateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("sale_year"),
               month(col("o_orderdate")).as("sale_month"))
      .agg(count(lit(1)).as("n_orders"),
           min(dayofmonth(col("o_orderdate"))).as("min_day"),
           max(dayofmonth(col("o_orderdate"))).as("max_day"))
      .orderBy("sale_year", "sale_month")

  /** q28 — multi-key global top-k (O2): TakeOrderedAndProject, no full
    * sort materialization. */
  def q28TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(20)

  /** q29 — equi + range-predicate join (J5): lineitems shipped within 30
    * days of their order date; per-flag count and mean delay. */
  def q29RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val delay = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .withColumn("delay_days", delay)
      .filter(col("delay_days") >= 0 && col("delay_days") <= 30)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           round(avg(col("delay_days")), 6).as("avg_delay"))
      .orderBy("returnflag")
  }

  /** q30 — as-of join (J5): for each purchase event, the most recent
    * signup at-or-before it by the same user. Implemented with the
    * scale-correct union+window merge (one shuffle on user_id, no
    * pairwise blowup — the pattern a 100 TB as-of needs), not a
    * pairwise inequality join. */
  def q30AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val tagged = ev
      .filter(col("event_type").isin("purchase", "signup"))
      .select(col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "signup", col("ts")).as("signup_ts"))
    // signup sorts before purchase at equal ts => inclusive (<=) semantics
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "signup", 0).otherwise(1))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("prior_signup_ts", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
           count(col("prior_signup_ts")).as("n_with_prior_signup"))
      .orderBy("user_id")
  }

  /** q49 — approximate distinct count (A5): HLL++ `approx_count_distinct`
    * checked against the exact count. DuckDB's sketch differs by
    * construction, so the oracle verifies the exact count plus the
    * ACCURACY CONTRACT of the sketch (relative error within 3x the
    * default 5% rsd) — a real differential test of the property an
    * approx-distinct must honor, not a rows-only check. At 100 TB the
    * approx variant is the one that matters: no per-key shuffle state,
    * only a mergeable sketch. */
  def q49ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
           approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.15).as("approx_within_15pct"))
      .orderBy("event_type")

  /** q50 — statistical aggregate family (A7): avg / stddev / exact
    * interpolated percentile / min / max. */
  def q50StatsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(round(avg(col("l_extendedprice")), 4).as("avg_price"),
           round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price"),
           min(col("l_extendedprice")).as("min_price"),
           max(col("l_extendedprice")).as("max_price"))
      // median from the shared per-flag percentile frame (element 2 =
      // p50) — the exact-percentile value buffer is built once per
      // session for q50/q56/q72 instead of three times
      .join(Breadth2.flagPercentiles(spark, dir)
        .select(col("returnflag"),
          round(element_at(col("ps"), 2), 4).as("median_price")),
        Seq("returnflag"))
      .select(col("returnflag"), col("avg_price"), col("stddev_price"),
        col("median_price"), col("min_price"), col("max_price"))
      .orderBy("returnflag")

  /** q51 — map-type functions (F8): parse events.props into a typed MAP,
    * access/enumerate it. */
  def q51MapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("props_map",
        from_json(col("props"), lit("map<string,int>")))
      .select(col("event_id"),
        map_keys(col("props_map")).getItem(0).as("first_key"),
        size(col("props_map")).as("n_keys"),
        col("props_map").getItem("k").as("k_value"))
      .orderBy("event_id")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q49_approx_distinct", q49ApproxDistinct _,
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_15pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q50_stats_agg", q50StatsAgg _,
      """SELECT l_returnflag AS returnflag,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(stddev_samp(l_extendedprice), 4) AS stddev_price,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |       min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // json_keys (not hardcoded 'k'/1) so map_keys/size semantics are
    // actually differential-tested on multi-key props (ADVICE.md r01)
    QueryDef("q51_map_funcs", q51MapFuncs _,
      """SELECT event_id,
        |       json_keys(props)[1] AS first_key,
        |       CAST(len(json_keys(props)) AS INT) AS n_keys,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("q13_semi_join", q13SemiJoin _,
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q14_anti_join", q14AntiJoin _,
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND year(o.o_orderdate) = 1996)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q15_full_outer_join", q15FullOuterJoin _,
      """WITH a AS (SELECT o_custkey AS ck, count(*) AS cnt FROM orders
        |           WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |     b AS (SELECT o_custkey AS ck, count(*) AS cnt FROM orders
        |           WHERE year(o_orderdate) = 1997 GROUP BY 1)
        |SELECT coalesce(a.ck, b.ck) AS custkey,
        |       coalesce(a.cnt, 0) AS orders_1996,
        |       coalesce(b.cnt, 0) AS orders_1997
        |FROM a FULL OUTER JOIN b ON a.ck = b.ck
        |ORDER BY custkey""".stripMargin),
    QueryDef("q16_cross_join", q16CrossJoin _,
      """SELECT r_name AS region, returnflag
        |FROM region
        |CROSS JOIN (SELECT DISTINCT l_returnflag AS returnflag FROM lineitem)
        |ORDER BY region, returnflag""".stripMargin),
    QueryDef("q17_rollup", q17Rollup _,
      """SELECT coalesce(CAST(year(o_orderdate) AS INT), -1) AS sale_year,
        |       coalesce(CAST(quarter(o_orderdate) AS INT), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price,
        |       count(*) AS n_orders,
        |       CAST(grouping(year(o_orderdate)) AS INT) AS g_year,
        |       CAST(grouping(quarter(o_orderdate)) AS INT) AS g_quarter
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))
        |ORDER BY sale_year, sale_quarter""".stripMargin),
    QueryDef("q18_cube", q18Cube _,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    QueryDef("q19_grouping_sets", q19GroupingSets _,
      """SELECT coalesce(CAST(year(o_orderdate) AS INT), -1) AS sale_year,
        |       coalesce(CAST(quarter(o_orderdate) AS INT), -1) AS sale_quarter,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((year(o_orderdate)), (quarter(o_orderdate)), ())
        |ORDER BY sale_year, sale_quarter""".stripMargin),
    QueryDef("q20_window_rank", q20WindowRank _,
      """WITH rev AS (
        |  SELECT p_brand AS brand, p_partkey AS partkey,
        |         round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT brand, partkey, revenue,
        |         CAST(row_number() OVER w AS INT) AS rn,
        |         CAST(rank() OVER w AS INT) AS rnk,
        |         CAST(dense_rank() OVER w AS INT) AS drnk
        |  FROM rev
        |  WINDOW w AS (PARTITION BY brand ORDER BY revenue DESC, partkey ASC))
        |SELECT * FROM ranked WHERE rn <= 3 ORDER BY brand, rn""".stripMargin),
    QueryDef("q21_window_analytic", q21WindowAnalytic _,
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |       round(lag(revenue, 1) OVER w, 2) AS prev_revenue,
        |       round(lead(revenue, 1) OVER w, 2) AS next_revenue,
        |       round(sum(revenue) OVER (ORDER BY month
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running_total,
        |       round(avg(revenue) OVER (ORDER BY month
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_avg3
        |FROM monthly
        |WINDOW w AS (ORDER BY month)
        |ORDER BY month""".stripMargin),
    QueryDef("q22_set_ops", q22SetOps _,
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |SELECT
        |  (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_intersect,
        |  (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_except,
        |  (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union""".stripMargin),
    QueryDef("q23_distinct_agg", q23DistinctAgg _,
      """SELECT n_name AS nation,
        |       coalesce(s.cnt, 0) AS n_suppliers,
        |       coalesce(c.cnt, 0) AS n_customers
        |FROM nation
        |LEFT JOIN (SELECT s_nationkey, count(DISTINCT s_suppkey) AS cnt
        |           FROM supplier GROUP BY 1) s ON s_nationkey = n_nationkey
        |LEFT JOIN (SELECT c_nationkey, count(DISTINCT c_custkey) AS cnt
        |           FROM customer GROUP BY 1) c ON c_nationkey = n_nationkey
        |ORDER BY nation""".stripMargin),
    QueryDef("q24_scalar_string", q24ScalarString _,
      """SELECT doc_id,
        |       length(text) AS text_len,
        |       substring(text, 1, 10) AS prefix10,
        |       regexp_extract(text, '^([a-z]+)', 1) AS first_word,
        |       upper(source) AS source_upper,
        |       lang || ':' || source AS lang_source
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("q25_json", q25Json _,
      """SELECT event_type,
        |       count(*) AS n_events,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
        |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q108_variant_shred", q108VariantShred _,
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |       json_extract_string(props, '$.k') AS k_str,
        |       json_extract_string(props, '$.absent') AS absent_str,
        |       json_extract(props, '$.k') = 'null' AS k_is_json_null
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("q26_array_funcs", q26ArrayFuncs _,
      """SELECT vec_id,
        |       CAST(len(embedding) AS INT) AS dim,
        |       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6)
        |         AS vec_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    QueryDef("q27_date_funcs", q27DateFuncs _,
      """SELECT CAST(year(o_orderdate) AS INT) AS sale_year,
        |       CAST(month(o_orderdate) AS INT) AS sale_month,
        |       count(*) AS n_orders,
        |       CAST(min(day(o_orderdate)) AS INT) AS min_day,
        |       CAST(max(day(o_orderdate)) AS INT) AS max_day
        |FROM orders
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("q28_topk", q28TopK _,
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 20""".stripMargin),
    QueryDef("q29_range_join", q29RangeJoin _,
      """SELECT l_returnflag AS returnflag,
        |       count(*) AS n_rows,
        |       round(avg(delay_days), 6) AS avg_delay
        |FROM (SELECT l_returnflag,
        |             date_diff('day', CAST(o_orderdate AS DATE),
        |                       CAST(l_shipdate AS DATE)) AS delay_days
        |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |WHERE delay_days >= 0 AND delay_days <= 30
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q30_asof_join", q30AsofJoin _,
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'signup')
        |SELECT p.user_id AS user_id,
        |       count(*) AS n_purchases,
        |       count(s.ts) AS n_with_prior_signup
        |FROM p ASOF LEFT JOIN s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |GROUP BY 1 ORDER BY 1""".stripMargin))
}
