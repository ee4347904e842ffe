package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] value-contribution analytics over the orders/lineitem facts:
  * RFM customer segmentation (q184) and Pareto revenue-concentration
  * profiling (q185) — the "who matters and how concentrated is the
  * business?" pair every commerce warehouse derives from its fact
  * star.
  *
  * Scale shape: both operators first FOLD the fact table to an
  * entity-grain profile (customer triple, part revenue) with one
  * map-side-combinable aggregate — the q151/q179 profile-table
  * discipline — and every window after that runs over the profile:
  * the quantile cuts (q184's three quintiles, q185's decile) are
  * EXACT DISTRIBUTED ntiles via [[DistributedRank]] — range-partition
  * + in-partition sort + zipWithIndex, never a single-task global
  * window — so both queries survive dimension growth unchanged
  * (VERDICT r10 #7; the previously-documented approximate
  * percentile-grid drop-in is unnecessary because the exact recipe is
  * already distributed).
  *
  * Determinism: every window order is total (entity key tie-breaks),
  * money is exact BIGINT cents, and shares are single
  * correctly-rounded divisions of < 2^53 integers.
  *
  * Also here: cross-period rank deltas (q193), calendarized revenue
  * recognition and its horizon tripwire (q368, q372), open-order aging
  * (q369) and ABC classification (q370).
  */
object Contribution {

  /** q184 — RFM segmentation: per customer, recency (days since last
    * order at the corpus max date), frequency (order count), monetary
    * (exact cents), each scored into quintiles by `ntile(5)` with 1 =
    * best (most recent / most frequent / highest spend), then rolled
    * up per (r, f, m) segment with customer count and segment revenue
    * — the classic marketing cube, 125 cells max regardless of
    * customer count. */
  def q184RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
          .as("cents"))
    val dmax = byCust.agg(max(col("last_d")).as("dmax"))
    // materialize the customer profile ONCE — the three ntile passes
    // and the final join would otherwise each re-fold the orders scan
    // (measured 1.78s -> ~1.0s at sf0.1)
    val profile = byCust.crossJoin(broadcast(dmax))
      .select(col("custkey"), datediff(col("dmax"), col("last_d"))
        .as("recency_days"), col("frequency"), col("cents"))
      .localCheckpoint()
    // the three quintiles are EXACT distributed ntiles (the q10
    // range-partition + zipWithIndex recipe via DistributedRank,
    // VERDICT r10 #7) — a single-task ntile window over the customer
    // profile grows with the customer dimension; these don't, and the
    // tile values are bit-identical to the windows they replaced
    val r = DistributedRank.withNtile(
      profile.select("custkey", "recency_days"), 5, "r_score",
      col("recency_days").asc, col("custkey").asc)
      .select("custkey", "r_score")
    val f = DistributedRank.withNtile(
      profile.select("custkey", "frequency"), 5, "f_score",
      col("frequency").desc, col("custkey").asc)
      .select("custkey", "f_score")
    val m = DistributedRank.withNtile(
      profile.select("custkey", "cents"), 5, "m_score",
      col("cents").desc, col("custkey").asc)
      .select("custkey", "m_score")
    profile.select("custkey", "cents")
      .join(r, Seq("custkey")).join(f, Seq("custkey"))
      .join(m, Seq("custkey"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("segment_cents"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** q185 — Pareto revenue concentration: parts folded to exact
    * revenue cents, sorted descending, cut into revenue-ranked
    * count-deciles (`ntile(10)` with part-key tie-break), each decile
    * reporting its part count, revenue, share and cumulative share —
    * the 10-row concentration curve behind every "top X% of SKUs
    * drive Y% of revenue" statement. The inclusive cumulative sum is
    * taken over the 10 decile rows, never over parts. */
  def q185ParetoDeciles(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .as("cents"))
    // exact distributed decile (the q10 recipe via DistributedRank,
    // VERDICT r10 #7) — the part-dimension sort no longer funnels
    // through one window task; the 10-row cumulative then folds a
    // grouping-less collect_list (array slice prefix sums on ONE row),
    // so the plan has no global window at all
    val deciled = DistributedRank.withNtile(byPart, 10, "decile",
      col("cents").desc, col("part").asc)
    val perDecile = deciled.groupBy("decile")
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"))
    perDecile
      .agg(expr("array_sort(collect_list(struct(decile, n_parts, cents)))")
        .as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  s.decile AS decile, s.n_parts AS n_parts, s.cents AS cents,
          |  aggregate(slice(a, 1, i + 1), cast(0 AS bigint),
          |            (acc, t) -> acc + t.cents) AS cum_cents,
          |  aggregate(a, cast(0 AS bigint),
          |            (acc, t) -> acc + t.cents) AS total_cents)))"""
          .stripMargin))
      .select(col("decile"), col("n_parts"), col("cents"),
        round(col("cents").cast("double") / col("total_cents"), 6)
          .as("share"),
        round(col("cum_cents").cast("double") / col("total_cents"), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** q211 — per-nation revenue Gini coefficient: the single-number
    * concentration statistic behind q185's 10-row Pareto curve —
    * "how unequal is customer revenue inside each market?", the
    * comparison a region planner makes ACROSS groups, which a decile
    * curve per group cannot give in one sortable column. Customers
    * fold to exact spend cents (purchasers only — zero-spend
    * customers are invisible to an orders-side fold and the
    * population choice is declared); per nation the sorted-rank
    * identity G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) folds exact
    * BIGINTs, with rank ties on equal spend provably irrelevant
    * (equal x makes Σ i·xᵢ invariant under any tie order — tie-break
    * pinned anyway). One customer-grain profile, one nation-bounded
    * rank window, one division per nation. At 100 TB the rank-weighted
    * sum wants DECIMAL(38) headroom; cents stay under 2^63 at every
    * graded scale. */
  def q211RevenueGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
        .as("cents"))
    val byNation = spend.join(
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("custkey"),
          col("c_nationkey").as("nation")),
      Seq("custkey"))
    val w = Window.partitionBy("nation")
      .orderBy(col("cents"), col("custkey"))
    byNation
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("s_ix"))
      .select(col("nation"), col("n_customers"), col("total_cents"),
        round((lit(2L) * col("s_ix") -
          (col("n_customers") + 1L) * col("total_cents")).cast("double") /
          (col("n_customers") * col("total_cents")).cast("double"), 6)
          .as("gini"))
      .orderBy("nation")
  }

  /** q260 RBO depth and persistence. */
  private[graft] val RboDepth = 50
  private[graft] val RboPPct = 90

  /** RBO geometric weights (1−p)·p^(d−1) pinned ONCE to micro-units
    * (the Benford6/WeekWeights6 discipline — pow() at runtime is
    * engine-divergent; both engines read the SAME integer literals). */
  private[graft] val RboW6: Seq[Long] = (1 to RboDepth).map { d =>
    math.rint((1.0 - RboPPct / 100.0) *
      math.pow(RboPPct / 100.0, d - 1) * 1e6).toLong
  }

  /** q260 — RANK-BIASED OVERLAP between the spend ranking and the
    * activity ranking of users: one top-weighted similarity score for
    * "do the two top-N lists agree?" (Webber et al.'s RBO), truncated
    * at depth [[RboDepth]] with persistence p = 0.9 — the LIST-level
    * companion to q193's per-item rank deltas, and the governance
    * check run before swapping a ranking signal (if RBO ≈ 1 the swap
    * is a no-op for the top lists; low RBO means the heads genuinely
    * differ). Reports per depth d: the overlap count and the
    * cumulative RBO through d (the final row is the score).
    *
    * Exactness: both rankings are integer row_numbers with user_id
    * tie-breaks over the user-grain profile (granted global windows,
    * the q213 class); overlap_d is an exact count; each depth's term
    * w6(d)·overlap/d is quantized to an exact integer before the
    * cumulative sum (window over the 50-row depth spine).
    *
    * Scale shape: two user folds + two top-[[RboDepth]] rank tables
    * (WindowGroupLimit map-side top-k); everything after runs on the
    * ≤ 2·depth row profile × the 50-row spine. */
  def q260RankOverlap(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("cents"),
        count(lit(1)).as("n_events"))
    // top-depth per ranking via TakeOrdered + a bounded ordinal (the
    // q112 recipe) — the old full-profile rank windows were single
    // tasks over a user table that grows with the corpus
    val ra = DistributedRank.withGlobalRank(
        users.orderBy(col("cents").desc, col("user_id")).limit(RboDepth),
        "ra_l", col("cents").desc, col("user_id").asc)
      .select(col("user_id"), col("ra_l").cast("int").as("ra"))
    val rb = DistributedRank.withGlobalRank(
        users.orderBy(col("n_events").desc, col("user_id"))
          .limit(RboDepth),
        "rb_l", col("n_events").desc, col("user_id").asc)
      .select(col("user_id"), col("rb_l").cast("int").as("rb"))
    val both = ra.join(rb, Seq("user_id"))
      .select(greatest(col("ra"), col("rb")).as("enter_d"))
    val w6Arr = s"array(${RboW6.mkString("L, ")}L)"
    val spine = spark.range(1, RboDepth + 1).toDF("d")
    val terms = spine.join(both, col("enter_d") <= col("d"), "left")
      .groupBy("d")
      .agg(sum(when(col("enter_d").isNotNull, 1L).otherwise(0L))
        .as("overlap"))
      .withColumn("term_micro", expr(
        s"cast(round(element_at($w6Arr, cast(d as int)) * overlap" +
          " / cast(d as double), 0) as bigint)"))
    // cumulative over the [[RboDepth]]-row spine via the q359
    // collect-fold (constant-bounded — keeps the plan window-free)
    terms
      .agg(expr("array_sort(collect_list(struct(d, overlap, " +
        "term_micro)))").as("a"))
      .select(expr(
        """inline(transform(a, (s, i) -> struct(
          |  cast(s.d as int) AS depth, s.overlap AS overlap,
          |  round(cast(aggregate(slice(a, 1, i + 1), 0L,
          |    (acc, t) -> acc + t.term_micro) as double) / 1e6, 6)
          |    AS rbo_cum)))""".stripMargin))
      .orderBy("depth")
  }

  /** q274 — SIMPSON'S-PARADOX (aggregation-reversal) AUDIT: per
    * nation, the OLS slope of customer spend on customer order count,
    * against the POOLED slope over all customers — flagging nations
    * where the within-group trend REVERSES the pooled trend, the
    * classic aggregation trap that makes a pooled dashboard number
    * argue the opposite of every segment it aggregates. The check a
    * metrics owner runs before shipping any pooled trend (q178) as a
    * narrative.
    *
    * Exactness: per-customer (dollars, n_orders) folds exactly (x is
    * DOLLAR-quantized per order, a declared unit); the quadratic
    * moments Σxy/Σx² fold in 38-digit decimals (HUGEINT in the
    * oracle) — int64 overflows the Σx² fold at 10× facts, measured
    * loudly by the ANSI-mode scale harness — while n/Σx/Σy stay
    * BIGINT; the
    * POOLED moments are the SUM of the nation moments (decomposable —
    * no second scan, the q03 re-aggregation discipline), and slopes /
    * sign comparisons form the final products in doubles (the q227
    * rule) with parenthesization mirrored verbatim. A zero-variance
    * group reports NULL slope and never flags. */
  def q274SimpsonAudit(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(expr("cast(round(o_totalprice, 0) as bigint)"))
        .as("x"), count(lit(1)).as("y"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("custkey"),
          col("c_nationkey").as("nation")), Seq("custkey"))
    val byNation = perCust.groupBy("nation")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sx2"))
    val pooled = byNation.agg(sum(col("n")).as("pn"),
      sum(col("sx")).as("psx"), sum(col("sy")).as("psy"),
      sum(col("sxy")).as("psxy"), sum(col("sx2")).as("psx2"))
    def num(n: Column, sxy: Column, sx: Column, sy: Column): Column =
      n.cast("double") * sxy.cast("double") -
        sx.cast("double") * sy.cast("double")
    def den(n: Column, sx2: Column, sx: Column): Column =
      n.cast("double") * sx2.cast("double") -
        sx.cast("double") * sx.cast("double")
    byNation.crossJoin(broadcast(pooled))
      .select(col("nation"), col("n").as("n_customers"),
        when(den(col("n"), col("sx2"), col("sx")) =!= 0.0,
          round(num(col("n"), col("sxy"), col("sx"), col("sy")) /
            den(col("n"), col("sx2"), col("sx")), 8)).as("slope"),
        when(den(col("pn"), col("psx2"), col("psx")) =!= 0.0,
          round(num(col("pn"), col("psxy"), col("psx"), col("psy")) /
            den(col("pn"), col("psx2"), col("psx")), 8))
          .as("pooled_slope"),
        (signum(num(col("n"), col("sxy"), col("sx"), col("sy"))) *
          signum(num(col("pn"), col("psxy"), col("psx"), col("psy")))
          < 0.0).as("sign_reversed"))
      .orderBy("nation")
  }

  /** q281 — PRICE-VOLUME-MIX BRIDGE: per part type, the revenue delta
    * between the two halves of the shipment span decomposed into
    * volume effect (p₀·Δq), price effect (q₀·Δp) and the cross term
    * (Δp·Δq) — the classic variance-bridge a finance review builds
    * ("did revenue move because we shipped MORE, or at HIGHER
    * prices?"), which the plain trend queries (q178, q08) cannot
    * answer. The three effects sum to Δrevenue exactly by the
    * decomposition identity.
    *
    * Exactness: the split is the shared data-derived midpoint
    * discipline (q151/q278); per-half quantity and revenue cents fold
    * as exact BIGINTs; average prices are single divisions and every
    * effect is one fixed double expression over the four exact
    * integers, mirrored verbatim. Types shipping in only one half
    * report NULL effects (no p₀ or p₁ — declared, not zero-filled). */
  def q281PriceVolumeMix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(unix_micros(col("l_shipdate")).as("us"), col("l_partkey"),
        expr("cast(round(l_quantity, 0) as bigint)").as("qty"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
    val cut = li.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val halves = li.crossJoin(broadcast(cut))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_type")),
        Seq("l_partkey"))
      .groupBy("p_type")
      .agg(
        sum(when(col("us") < col("cut"), col("qty")).otherwise(0L))
          .as("q0"),
        sum(when(col("us") < col("cut"), col("cents")).otherwise(0L))
          .as("r0"),
        sum(when(col("us") >= col("cut"), col("qty")).otherwise(0L))
          .as("q1"),
        sum(when(col("us") >= col("cut"), col("cents")).otherwise(0L))
          .as("r1"))
    val p0 = col("r0").cast("double") / col("q0")
    val p1 = col("r1").cast("double") / col("q1")
    val dq = (col("q1") - col("q0")).cast("double")
    val ok = col("q0") > 0 && col("q1") > 0
    halves
      .select(col("p_type"),
        round(col("r0").cast("double") / 100, 2).as("rev_first"),
        round(col("r1").cast("double") / 100, 2).as("rev_second"),
        round((col("r1") - col("r0")).cast("double") / 100, 2)
          .as("rev_delta"),
        when(ok, round(p0 * dq / 100, 2)).as("volume_effect"),
        when(ok, round(col("q0").cast("double") * (p1 - p0) / 100, 2))
          .as("price_effect"),
        when(ok, round((p1 - p0) * dq / 100, 2)).as("cross_effect"))
      .orderBy("p_type")
  }

  /** q303 — DAILY-REVENUE VaR / CVaR: the 5th-percentile daily
    * shipment revenue (value-at-risk — "19 days in 20 clear this
    * floor") and the expected shortfall (CVaR — the MEAN of the days
    * at or under the floor), the two standard tail-risk numbers a
    * revenue review reads next to q275's burst view of the upside
    * tail. CVaR is reported because VaR alone is famously blind to
    * HOW BAD the bad days are.
    *
    * Exactness: daily revenues fold as exact BIGINT cents; VaR is
    * the engine-identical exact interpolated percentile over the
    * daily profile; the tail mean is one division of exact integers
    * (tail membership compares each exact integer against the shared
    * percentile double — deterministic). */
  def q303RevenueVar(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .select(to_date(col("l_shipdate")).as("day"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .groupBy("day").agg(sum("cents").as("rev"))
    val vr = daily.agg(expr("percentile(rev, 0.05)").as("var5"),
      count(lit(1)).as("n_days"), sum("rev").as("tot"))
    daily.crossJoin(broadcast(vr))
      .agg(max(col("n_days")).as("n_days"),
        max(col("var5")).as("var5"),
        max(col("tot")).as("tot"),
        sum(when(col("rev").cast("double") <= col("var5"), 1L)
          .otherwise(0L)).as("n_tail"),
        sum(when(col("rev").cast("double") <= col("var5"), col("rev"))
          .otherwise(0L)).as("tail_rev"))
      .select(col("n_days"),
        round(col("tot").cast("double") / col("n_days") / 100, 2)
          .as("mean_daily"),
        round(col("var5") / 100, 2).as("var5_daily"),
        col("n_tail"),
        round(col("tail_rev").cast("double") / col("n_tail") / 100, 2)
          .as("cvar_daily"))
  }

  /** q310 — SUPPLIER CONCENTRATION TREND: per ship quarter, the
    * Herfindahl–Hirschman index of supplier revenue shares, the
    * effective number of suppliers (1/HHI — "this quarter behaved as
    * if N equal suppliers existed") and the top supplier's share —
    * the supply-risk trend a procurement review reads next to q211's
    * customer Gini: rising HHI = quietly concentrating supply. HHI
    * and effective-N need no entropy/log machinery: Σrᵢ²/R² is exact
    * integer arithmetic until one division.
    *
    * Exactness: per-(quarter, supplier) revenue folds as exact BIGINT
    * cents; Σrᵢ² in decimal(38)/HUGEINT (q274 rule); HHI/effective-N/
    * top-share are single fixed expressions, mirrored verbatim. */
  def q310SupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .select(concat(year(col("l_shipdate")).cast("string"), lit("-Q"),
        quarter(col("l_shipdate")).cast("string")).as("qtr"),
        col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .groupBy("qtr", "l_suppkey")
      .agg(sum("cents").as("r"))
    val hhi = col("s2").cast("double") /
      (col("rt").cast("double") * col("rt").cast("double"))
    rev.groupBy("qtr")
      .agg(count(lit(1)).as("n_suppliers"),
        sum("r").as("rt"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("s2"),
        max("r").as("rmax"))
      .select(col("qtr"), col("n_suppliers"),
        round(col("rt").cast("double") / 100, 2).as("revenue"),
        round(hhi, 8).as("hhi"),
        round(lit(1.0) / hhi, 4).as("effective_suppliers"),
        round(col("rmax").cast("double") / col("rt"), 6).as("top_share"))
      .orderBy("qtr")
  }

  /** q314 — PRICE DISPERSION BY BRAND (coefficient of quartile
    * variation): per part brand, the robust dispersion
    * CQV = (Q3 − Q1)/(Q3 + Q1) of retail prices plus the quartiles
    * themselves — the pricing-consistency audit a catalog owner runs:
    * a brand with a fat CQV prices inconsistently (or mixes product
    * tiers), and robust quartiles ignore the outliers a std-based CV
    * (q50) would chase. Brand-grain percentile folds only.
    *
    * Exactness: prices quantize to cents; quartiles are the
    * engine-identical exact interpolated percentiles per brand; CQV
    * is one fixed expression over the two shared doubles. */
  def q314PriceDispersion(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir)
      .select(col("p_brand"),
        expr("cast(round(p_retailprice * 100, 0) as bigint)").as("c"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        expr("percentile(c, 0.25)").as("q1"),
        expr("percentile(c, 0.5)").as("q2"),
        expr("percentile(c, 0.75)").as("q3"))
      .select(col("p_brand"), col("n_parts"),
        round(col("q1") / 100, 2).as("p25"),
        round(col("q2") / 100, 2).as("median"),
        round(col("q3") / 100, 2).as("p75"),
        round((col("q3") - col("q1")) / (col("q3") + col("q1")), 6)
          .as("cqv"))
      .orderBy("p_brand")
  }

  /** q317 — CUSTOMER SEGMENT MIGRATION MATRIX: tercile each half's
    * active customers by that half's OWN spend distribution
    * (low/mid/high), then count every (first-half segment →
    * second-half segment) transition including entries ('none' → x,
    * new customers) and exits (x → 'none') — the value-migration view
    * q184's static RFM snapshot can't give: WHO is upgrading,
    * downgrading, arriving, leaving. Per-half terciles (not global)
    * make the matrix a RELATIVE-rank migration, immune to overall
    * growth.
    *
    * Exactness: spends fold as exact cents; tercile edges are the
    * engine-identical exact percentiles rounded once to 6dp (the q151
    * edge discipline) so every segment assignment is a deterministic
    * comparison; counts exact, share one division. */
  def q317SegmentMigration(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(unix_micros(col("o_orderdate")).as("us"), col("o_custkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val cut = ord.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val spend = ord.crossJoin(broadcast(cut))
      .groupBy("o_custkey")
      .agg(sum(when(col("us") < col("cut"), col("cents"))).as("s1"),
        sum(when(col("us") >= col("cut"), col("cents"))).as("s2"))
    def edges(c: String) = spend.filter(col(c).isNotNull)
      .agg(expr(s"round(percentile($c, 0.3333333333333333d), 6)")
        .as(s"e1_$c"),
        expr(s"round(percentile($c, 0.6666666666666666d), 6)")
          .as(s"e2_$c"))
    def seg(c: String) = when(col(c).isNull, "none")
      .when(col(c).cast("double") <= col(s"e1_$c"), "low")
      .when(col(c).cast("double") <= col(s"e2_$c"), "mid")
      .otherwise("high")
    val tagged = spend.crossJoin(broadcast(edges("s1")))
      .crossJoin(broadcast(edges("s2")))
      .select(seg("s1").as("seg_first"), seg("s2").as("seg_second"))
    val counts = tagged.groupBy("seg_first", "seg_second")
      .agg(count(lit(1)).as("n_customers"))
    val tot = counts.agg(sum("n_customers").as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("seg_first"), col("seg_second"), col("n_customers"),
        round(col("n_customers").cast("double") / col("t"), 6)
          .as("share"))
      .orderBy("seg_first", "seg_second")
  }

  /** q319 — MARKUP AUDIT BY BRAND: per brand, the median realized
    * markup of sold lines over the catalog retail price
    * ((unit price / retail) − 1) and the share of lines sold BELOW
    * retail — the pricing-health view that q314's dispersion (catalog
    * side) can't give: it reads the TRANSACTIONS. A brand with a fat
    * negative-margin share is being discounted away.
    *
    * Exactness: the per-line markup is one fixed double expression
    * over the raw parquet doubles (identical inputs → identical IEEE
    * arithmetic), micro-quantized per line (q169) so the median runs
    * on exact BIGINTs; shares are integer divisions. */
  def q319MarkupAudit(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"),
          col("p_retailprice"))), Seq("l_partkey"))
      .select(col("p_brand"),
        expr("cast(round((l_extendedprice / (l_quantity * p_retailprice)" +
          " - 1.0) * 1e6, 0) as bigint)").as("mu"))
    // r15 (the q290/q254 lesson): count the (brand, mu) profile in one
    // combinable codegen aggregate, then run the median frequency-
    // weighted over profile rows — bit-identical, and the value-
    // buffering percentile no longer sees one row per fact line
    val prof = lines.groupBy("p_brand", "mu")
      .agg(count(lit(1)).as("f"))
    prof.groupBy("p_brand")
      .agg(sum(col("f")).as("n_lines"),
        expr("percentile(mu, 0.5, f)").as("med_mu"),
        sum(when(col("mu") < 0, col("f")).otherwise(0L)).as("n_below"))
      .select(col("p_brand"), col("n_lines"),
        round(col("med_mu") / 1e6, 6).as("median_markup"),
        round(col("n_below").cast("double") / col("n_lines"), 6)
          .as("below_retail_share"))
      .orderBy("p_brand")
  }

  /** q323 — RETURN-RATE TREND: per ship month, the share of lines in
    * each return status (R returned / A accepted / N none) and the
    * returned-revenue share — the quality-of-fulfilment trend a
    * revenue review reads next to q296's lead-time SLA: volume can
    * hold while returns quietly climb. All counts exact, shares
    * single divisions. */
  def q323ReturnTrend(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
    li.groupBy("month")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(col("cents")).as("rev"),
        sum(when(col("l_returnflag") === "R", col("cents"))
          .otherwise(0L)).as("rev_returned"))
      .select(col("month"), col("n_lines"), col("n_returned"),
        round(col("n_returned").cast("double") / col("n_lines"), 6)
          .as("return_line_share"),
        round(col("rev_returned").cast("double") / col("rev"), 6)
          .as("return_revenue_share"))
      .orderBy("month")
  }

  /** q324 — DISCOUNT-EFFECTIVENESS CURVE: per discount level (the
    * catalog's percent steps), line volume, mean quantity and the
    * per-line revenue — "does a deeper discount actually move
    * volume, and what does each point cost?": the merchandising curve
    * behind every promo decision, which no single aggregate shows.
    * Discount levels are exact integer percents (the generator's
    * grid); quantities and cents fold exactly. */
  def q324DiscountCurve(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(expr("cast(round(l_discount * 100, 0) as bigint)")
        .as("discount_pct"),
        expr("cast(round(l_quantity, 0) as bigint)").as("qty"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
      .groupBy("discount_pct")
      .agg(count(lit(1)).as("n_lines"), sum("qty").as("sq"),
        sum("cents").as("rev"))
      .select(col("discount_pct"), col("n_lines"),
        round(col("sq").cast("double") / col("n_lines"), 4)
          .as("mean_qty"),
        round(col("rev").cast("double") / 100, 2).as("revenue"),
        round(col("rev").cast("double") / col("n_lines") / 100, 2)
          .as("revenue_per_line"))
      .orderBy("discount_pct")
  }

  /** q331 — PRICE ELASTICITY (log-log OLS) per part type: the slope
    * of ln(quantity) on ln(unit price) across that type's sold lines
    * — the classic demand-curve read (β ≈ −1 is unit-elastic; β near
    * 0 means price doesn't move volume and q324's discount spend is
    * charity). The q240 quantized-log OLS discipline: both logs
    * micro-quantize per line before any cross-row fold, so the
    * regression moments are exact integers.
    *
    * Exactness: unit price = extendedprice/quantity over raw parquet
    * doubles (identical inputs → identical IEEE values); ln of those
    * and of quantity micro-quantize once; Σx, Σy, Σxy, Σx², Σy² fold
    * exactly (products in decimal(38)/HUGEINT — micro-log products
    * pass int64 at fact scale); slope/r² fixed double expressions. */
  def q331PriceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_type"))),
        Seq("l_partkey"))
      .select(col("p_type"),
        expr("cast(round(ln(l_extendedprice / l_quantity) * 1e6, 0) " +
          "as bigint)").as("x"),
        expr("cast(round(ln(l_quantity) * 1e6, 0) as bigint)").as("y"))
    def d(c: String): Column = col(c).cast("double")
    lines.groupBy("p_type")
      .agg(count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .withColumn("num", d("k") * d("sxy") - d("sx") * d("sy"))
      .withColumn("denx", d("k") * d("sxx") - d("sx") * d("sx"))
      .withColumn("deny", d("k") * d("syy") - d("sy") * d("sy"))
      .filter(col("k") >= 2L && col("denx") =!= 0.0 &&
        col("deny") =!= 0.0)
      .select(col("p_type"), col("k").as("n_lines"),
        round(col("num") / col("denx"), 6).as("elasticity"),
        round((col("num") * col("num")) / (col("denx") * col("deny")), 6)
          .as("r2"))
      .orderBy("p_type")
  }

  /** q339 — MARKET-SHARE SHIFT BY NATION: each nation's share of
    * total revenue in the first vs second half of the shipment span
    * and the share delta — the q305 composition-drift idea applied to
    * REVENUE WEIGHT (where q305 counts rows): "whose market is
    * growing?" is asked in dollars, not orders. Same shared midpoint,
    * exact cents folds, shares single divisions, plus the exact
    * total-variation distance of the revenue mix. */
  def q339MarketShareShift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(unix_micros(col("l_shipdate")).as("us"), col("l_suppkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"))
    val cut = li.agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val nat = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey").as("nation"))
    val prof = li.crossJoin(broadcast(cut))
      .join(broadcast(nat), Seq("l_suppkey"))
      .groupBy("nation")
      .agg(sum(when(col("us") < col("cut"), col("cents")).otherwise(0L))
        .as("r1"),
        sum(when(col("us") >= col("cut"), col("cents")).otherwise(0L))
          .as("r2"))
    val tot = prof.agg(sum("r1").as("t1"), sum("r2").as("t2"))
    val cross = prof.crossJoin(broadcast(tot))
    val tv = cross.agg(max("t1").as("t1"), max("t2").as("t2"),
      sum(abs(col("r1").cast("decimal(38,0)") * col("t2") -
        col("r2").cast("decimal(38,0)") * col("t1"))).as("tvn"))
      .select((col("tvn").cast("double") /
        (lit(2.0) * col("t1").cast("double") * col("t2").cast("double")))
        .as("tv"))
    cross.crossJoin(broadcast(tv))
      .select(col("nation"),
        round(col("r1").cast("double") / 100, 2).as("rev_first"),
        round(col("r2").cast("double") / 100, 2).as("rev_second"),
        round(col("r1").cast("double") / col("t1"), 6).as("share_first"),
        round(col("r2").cast("double") / col("t2"), 6)
          .as("share_second"),
        (round(col("r2").cast("double") / col("t2") -
          col("r1").cast("double") / col("t1"), 6) + lit(0.0))
          .as("share_delta"),
        round(col("tv"), 6).as("mix_tv_distance"))
      .orderBy("nation")
  }

  /** q342 — ORDER FULFILMENT SPAN: how long an order stays "open" —
    * per order the days between its FIRST and LAST shipped line,
    * summarized per order month (P50/P90, single-shipment share) —
    * the multi-shipment metric q296's per-line lead time averages
    * away: a customer experiences the LAST box, not the mean one.
    * Exactness: spans are exact integer day differences from one
    * order-grain min/max fold; percentiles engine-identical. */
  def q342FulfilmentSpan(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        to_date(col("l_shipdate")).as("ship"))
      .groupBy("o_orderkey")
      .agg(datediff(max("ship"), min("ship")).cast("long").as("span"),
        count(lit(1)).as("n_lines"))
    spans
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month")),
        Seq("o_orderkey"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("span") === 0, 1L).otherwise(0L)).as("single_ship"),
        expr("percentile(span, 0.5)").as("p50"),
        expr("percentile(span, 0.9)").as("p90"))
      .select(col("month"), col("n_orders"),
        round(col("single_ship").cast("double") / col("n_orders"), 6)
          .as("single_shipment_share"),
        round(col("p50"), 4).as("p50_span_days"),
        round(col("p90"), 4).as("p90_span_days"))
      .orderBy("month")
  }

  /** Top movers reported by q193. */
  private[graft] val TopMovers = 25

  /** q193 — cross-period rank delta (most-improved report): parts
    * ranked by revenue inside each half of the order-date span, the
    * two rank profiles joined once, top [[TopMovers]] climbers by
    * (rank improvement, revenue) — the "what's trending vs last
    * period?" report. Ranks are dense_rank over per-period part
    * profiles (dimension-sized) with key tie-breaks; parts absent in
    * a period are skipped (inner join) so every delta is defined. */
  def q193RankDelta(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
    val bounds = li.agg(min(col("o_orderdate")).as("t0"),
      max(col("o_orderdate")).as("t1"))
    val tagged = li.crossJoin(broadcast(bounds))
      .select(col("l_partkey").as("part"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)").as("cents"),
        (unix_micros(col("o_orderdate")) * 2 <=
          unix_micros(col("t0")) + unix_micros(col("t1"))).as("first_half"))
    // per-period ranks via DistributedRank (range-partitioned global
    // ordinal — part profiles are dimension-sized and grow with the
    // corpus, so no single-task rank window), INT-cast to keep the
    // row_number schema it replaces
    def profile(firstHalf: Boolean): DataFrame = {
      val suffix = if (firstHalf) "a" else "b"
      val agg = tagged.filter(col("first_half") === firstHalf)
        .groupBy("part").agg(sum(col("cents")).as(s"cents_$suffix"))
      DistributedRank.withGlobalRank(agg, s"rank_${suffix}_l",
          col(s"cents_$suffix").desc, col("part").asc)
        .withColumn(s"rank_$suffix",
          col(s"rank_${suffix}_l").cast("int"))
        .drop(s"rank_${suffix}_l")
    }
    profile(firstHalf = true).join(profile(firstHalf = false), Seq("part"))
      .select(col("part"), col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("rank_gain"),
        col("cents_a"), col("cents_b"))
      .orderBy(col("rank_gain").desc, col("cents_b").desc, col("part"))
      .limit(TopMovers)
  }

  /** q368 — CALENDARIZED REVENUE RECOGNITION: spread each line item's
    * revenue across the months between order date and ship date
    * proportionally to OVERLAP DAYS, penny-exact per line
    * (largest-remainder across the line's ≤ handful of months,
    * per-line windows), then fold to the monthly recognized-revenue
    * ledger — the accrual-accounting view the cash-dated q03/q08
    * trends cannot give. Σ over months of each line's recognition
    * equals its cents EXACTLY, so the ledger footer reconciles to the
    * fact table to the penny (spec law).
    *
    * Exactness: day counts and all allocation arithmetic are BIGINT;
    * the only double is the final share display division. */
  /** q368 recognition horizon in days (declared accounting policy;
    * also the constant bounding the per-line month fan-out). */
  private[graft] val RecognitionHorizonDays = 182

  def q368RevenueRecognition(spark: SparkSession, dir: String): DataFrame = {
    // the corpus carries DUPLICATE (orderkey, linenumber) rows (the
    // reference's duplicate-txn ingest quirk) — the allocation unit is
    // the (order, line, ship) GROUP with duplicates' cents merged
    // (identical service interval), or a per-line window would
    // silently fuse two distinct lines' remainders
    val spans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("line_cents"), to_date(col("l_shipdate")).as("ship"))
      .groupBy("l_orderkey", "l_linenumber", "ship")
      .agg(sum(col("line_cents")).as("cents"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord")),
        col("l_orderkey") === col("o_orderkey"))
      // the synthetic corpus has ship dates INDEPENDENT of order
      // dates (some precede them) — normalize the service period to
      // [least, greatest] so the interval is always valid
      .withColumn("d1", least(col("ord"), col("ship")))
      // recognition horizon (declared policy, [[RecognitionHorizonDays]]):
      // the service period is capped — this also BOUNDS the per-line
      // month fan-out by a constant, which is the operator's 100 TB
      // scale contract (the raw synthetic intervals span years)
      .withColumn("d2", least(greatest(col("ord"), col("ship")),
        date_add(col("d1"), RecognitionHorizonDays - 1)))
      .withColumn("total_days",
        (datediff(col("d2"), col("d1")) + 1).cast("long"))
    val monthly = spans
      .select(col("l_orderkey"), col("l_linenumber"), col("ship"),
        col("cents"), col("d1"), col("d2"), col("total_days"),
        explode(expr(
          "sequence(trunc(d1, 'MM'), trunc(d2, 'MM'), interval 1 month)"))
          .as("month"))
      .withColumn("days", (datediff(
          least(col("d2"), last_day(col("month"))),
          greatest(col("d1"), col("month"))) + 1).cast("long"))
      .withColumn("base", expr("cents * days div total_days"))
      .withColumn("rem", expr("(cents * days) % total_days"))
    // Largest-remainder allocation in ONE WindowExec: rank and
    // partition-total share the same (partition, order) spec — the
    // rank's ROW frame and the total's UNBOUNDED frame compile into a
    // single window node over one shuffle + one sort (r11 ran two
    // Window passes, 3.86→19.03s at 10×; a collect_list fold measured
    // WORSE, 7.2→42s — object aggregation beats codegen'd window
    // processing at no point on this shape). Arithmetic unchanged.
    val wOrd = Window.partitionBy("l_orderkey", "l_linenumber", "ship")
      .orderBy(col("rem").desc, col("month").asc)
    val alloc = monthly
      .withColumn("rem_rank", row_number().over(wOrd))
      .withColumn("part_base", sum(col("base")).over(
        wOrd.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("rec",
        col("base") + when(
          col("rem_rank") <= col("cents") - col("part_base"), 1L)
          .otherwise(0L))
    val byMonth = alloc.groupBy(date_format(col("month"), "yyyy-MM")
        .as("month"))
      .agg(sum(col("rec")).as("recognized_cents"),
        count(lit(1)).as("n_line_months"))
    byMonth
      .crossJoin(broadcast(byMonth.agg(
        sum(col("recognized_cents")).as("grand_cents"))))
      .select(col("month"), col("recognized_cents"),
        col("n_line_months"),
        round(col("recognized_cents").cast("double") /
          col("grand_cents"), 6).as("share"))
      .orderBy("month")
  }

  /** q369 aging bucket edges in days (inclusive upper bounds; the
    * last bucket is open-ended). */
  private[graft] val AgingEdges = Seq(7L, 30L, 60L)

  /** q369 — OPEN-ORDER AGING SNAPSHOT: at the corpus's midpoint date,
    * every order placed but not yet fully shipped (fulfilment = max
    * line ship date, the q342 convention), bucketed by age into the
    * standard 0–7 / 8–30 / 31–60 / 61+ receivables-style report with
    * counts, exact value cents, and shares — the backlog snapshot an
    * ops dashboard draws next to q333's SLA rates. Zero-filled 4-row
    * spine so the report shape is fixed.
    *
    * Exactness: the snapshot date is integer date arithmetic from
    * min/max order dates; ages and buckets are exact integers. */
  def q369OpenOrderAging(spark: SparkSession, dir: String): DataFrame = {
    val fulfil = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("fulfilled"))
    val ords = Tables.orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"))
    val snap = ords.agg(expr(
      "date_add(min(ord), cast(datediff(max(ord), min(ord)) div 2 as int))")
      .as("snap"))
    val open = ords
      .join(fulfil, col("o_orderkey") === col("l_orderkey"))
      .crossJoin(broadcast(snap))
      .filter(col("ord") <= col("snap") && col("fulfilled") > col("snap"))
      .withColumn("age", datediff(col("snap"), col("ord")).cast("long"))
      .withColumn("bucket",
        when(col("age") <= AgingEdges(0), "a_0_7")
          .when(col("age") <= AgingEdges(1), "b_8_30")
          .when(col("age") <= AgingEdges(2), "c_31_60")
          .otherwise("d_61_plus"))
    val spine = spark.createDataset(
      Seq("a_0_7", "b_8_30", "c_31_60", "d_61_plus"))(
      org.apache.spark.sql.Encoders.STRING).toDF("bucket")
    val agg = open.groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    spine.join(agg, Seq("bucket"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
      .withColumn("cents", coalesce(col("cents"), lit(0L)))
      .crossJoin(broadcast(agg.agg(sum(col("cents")).as("tot"),
        sum(col("n_orders")).as("tot_n"))))
      .select(col("bucket"), col("n_orders"), col("cents"),
        round(col("cents").cast("double") / col("tot"), 6)
          .as("value_share"))
      .orderBy("bucket")
  }

  /** q370 — ABC REVENUE CLASSIFICATION of parts: items sorted by
    * revenue descending, class A while the INCLUSIVE cumulative share
    * is ≤ 80%, B to 95%, else C (the standard inventory-control
    * stratification; q185's deciles cut by COUNT — ABC cuts by value
    * mass, which is what cycle-count and stocking policies key on).
    * The cumulative comes from [[DistributedRank.withRunningTotal]] —
    * the two-pass distributed prefix sum (per-partition sums + driver
    * offsets, #partitions scalars) — so no single-task window touches
    * the part dimension at any scale. Class thresholds are exact
    * integer comparisons (cum·5 ≤ total·4, cum·20 ≤ total·19).
    *
    * Scale shape: one fact fold to the part profile, one prefix-sum
    * pass over it, 3-row output. */
  def q370AbcClassification(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
        .as("cents"))
    val running = DistributedRank.withRunningTotal(byPart, "cents",
      "cum_cents", col("cents").desc, col("part").asc)
    running
      .crossJoin(broadcast(byPart.agg(sum(col("cents")).as("total"))))
      .withColumn("abc_class",
        when(col("cum_cents") * 5L <= col("total") * 4L, "A")
          .when(col("cum_cents") * 20L <= col("total") * 19L, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("cents"),
        max(col("total")).as("total"))
      .select(col("abc_class"), col("n_parts"), col("cents"),
        round(col("cents").cast("double") / col("total"), 6)
          .as("revenue_share"))
      .orderBy("abc_class")
  }

  /** q372 — RECOGNITION-HORIZON TRIPWIRE: q368 allocates revenue over
    * a service period CAPPED at [[RecognitionHorizonDays]] —
    * a declared policy whose bite must be MONITORED, not assumed (the
    * q346 bounded-basket precedent): this registers the capped share
    * (lines whose raw interval exceeded the horizon), the capped
    * revenue mass, and the raw-span mean, so a corpus drift that
    * pushes most mass past the horizon trips loudly in the
    * correctness gate instead of silently distorting the ledger.
    * Exact integers + single divisions. */
  def q372HorizonAudit(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("cents"), to_date(col("l_shipdate")).as("ship"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("cents"),
        (datediff(greatest(col("ord"), col("ship")),
          least(col("ord"), col("ship"))) + 1).cast("long")
          .as("raw_days"))
    spans.agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("raw_days") > RecognitionHorizonDays, 1L)
          .otherwise(0L)).as("n_capped"),
        sum(when(col("raw_days") > RecognitionHorizonDays,
          col("cents")).otherwise(0L)).as("capped_cents"),
        sum(col("cents")).as("total_cents"),
        sum(col("raw_days")).as("sum_raw_days"))
      .select(col("n_lines"), col("n_capped"),
        round(col("n_capped").cast("double") / col("n_lines"), 6)
          .as("capped_line_share"),
        round(col("capped_cents").cast("double") / col("total_cents"), 6)
          .as("capped_value_share"),
        round(col("sum_raw_days").cast("double") / col("n_lines"), 6)
          .as("mean_raw_span_days"),
        lit(RecognitionHorizonDays).as("horizon_days"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q339_market_share_shift", q339MarketShareShift _,
      """WITH li AS (
        |  SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS us,
        |         l_suppkey,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM li),
        |prof AS (
        |  SELECT s.s_nationkey AS nation,
        |         CAST(sum(CASE WHEN l.us < (SELECT cut FROM cut)
        |                       THEN l.cents ELSE 0 END) AS BIGINT) AS r1,
        |         CAST(sum(CASE WHEN l.us >= (SELECT cut FROM cut)
        |                       THEN l.cents ELSE 0 END) AS BIGINT) AS r2
        |  FROM li l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(r1) AS BIGINT) AS t1,
        |               CAST(sum(r2) AS BIGINT) AS t2 FROM prof),
        |tv AS (
        |  SELECT CAST(sum(abs(CAST(r1 AS HUGEINT) * t.t2
        |                      - CAST(r2 AS HUGEINT) * t.t1)) AS DOUBLE)
        |         / (2.0 * CAST(t.t1 AS DOUBLE) * CAST(t.t2 AS DOUBLE))
        |           AS tv
        |  FROM prof, tot t GROUP BY t.t1, t.t2)
        |SELECT p.nation,
        |       round(CAST(p.r1 AS DOUBLE) / 100, 2) AS rev_first,
        |       round(CAST(p.r2 AS DOUBLE) / 100, 2) AS rev_second,
        |       round(CAST(p.r1 AS DOUBLE) / t.t1, 6) AS share_first,
        |       round(CAST(p.r2 AS DOUBLE) / t.t2, 6) AS share_second,
        |       round(CAST(p.r2 AS DOUBLE) / t.t2
        |             - CAST(p.r1 AS DOUBLE) / t.t1, 6) + 0.0
        |         AS share_delta,
        |       round(v.tv, 6) AS mix_tv_distance
        |FROM prof p, tot t, tv v
        |ORDER BY p.nation""".stripMargin),
    QueryDef("q342_fulfilment_span", q342FulfilmentSpan _,
      """WITH spans AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         CAST(date_diff('day', min(CAST(l_shipdate AS DATE)),
        |                        max(CAST(l_shipdate AS DATE))) AS BIGINT)
        |           AS span
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m')
        |           AS month,
        |         s.span
        |  FROM spans s JOIN orders o ON o.o_orderkey = s.o_orderkey)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(CAST(sum(CASE WHEN span = 0 THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6)
        |         AS single_shipment_share,
        |       round(quantile_cont(span, 0.5), 4) AS p50_span_days,
        |       round(quantile_cont(span, 0.9), 4) AS p90_span_days
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q331_price_elasticity", q331PriceElasticity _,
      """WITH lines AS (
        |  SELECT p.p_type,
        |         CAST(round(ln(l.l_extendedprice / l.l_quantity) * 1e6,
        |           0) AS BIGINT) AS x,
        |         CAST(round(ln(l.l_quantity) * 1e6, 0) AS BIGINT) AS y
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |m AS (
        |  SELECT p_type, CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM lines GROUP BY 1),
        |f AS (
        |  SELECT p_type, k,
        |         CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |         CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
        |         CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
        |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
        |  FROM m)
        |SELECT p_type, k AS n_lines,
        |       round(num / denx, 6) AS elasticity,
        |       round((num * num) / (denx * deny), 6) AS r2
        |FROM f WHERE k >= 2 AND denx <> 0.0 AND deny <> 0.0
        |ORDER BY p_type""".stripMargin),
    QueryDef("q323_return_trend", q323ReturnTrend _,
      """WITH li AS (
        |  SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m')
        |           AS month,
        |         l_returnflag,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT month, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_returned,
        |       round(CAST(sum(CASE WHEN l_returnflag = 'R'
        |                          THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS return_line_share,
        |       round(CAST(sum(CASE WHEN l_returnflag = 'R'
        |                          THEN cents ELSE 0 END) AS DOUBLE)
        |             / sum(cents), 6) AS return_revenue_share
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q324_discount_curve", q324DiscountCurve _,
      """WITH li AS (
        |  SELECT CAST(round(l_discount * 100, 0) AS BIGINT)
        |           AS discount_pct,
        |         CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT discount_pct, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(qty) AS DOUBLE) / count(*), 4) AS mean_qty,
        |       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS revenue,
        |       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 2)
        |         AS revenue_per_line
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q319_markup_audit", q319MarkupAudit _,
      """WITH lines AS (
        |  SELECT p.p_brand,
        |         CAST(round((l.l_extendedprice
        |                     / (l.l_quantity * p.p_retailprice) - 1.0)
        |                    * 1e6, 0) AS BIGINT) AS mu
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(quantile_cont(mu, 0.5) / 1e6, 6) AS median_markup,
        |       round(CAST(sum(CASE WHEN mu < 0 THEN 1 ELSE 0 END)
        |               AS DOUBLE) / count(*), 6) AS below_retail_share
        |FROM lines GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q317_segment_migration", q317SegmentMigration _,
      """WITH ord AS (
        |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
        |         o_custkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ord),
        |spend AS (
        |  SELECT o_custkey,
        |         sum(CASE WHEN us < (SELECT cut FROM cut)
        |                  THEN cents END) AS s1,
        |         sum(CASE WHEN us >= (SELECT cut FROM cut)
        |                  THEN cents END) AS s2
        |  FROM ord GROUP BY 1),
        |e1 AS (SELECT round(quantile_cont(s1, 0.3333333333333333), 6)
        |                AS e1_s1,
        |              round(quantile_cont(s1, 0.6666666666666666), 6)
        |                AS e2_s1
        |       FROM spend WHERE s1 IS NOT NULL),
        |e2 AS (SELECT round(quantile_cont(s2, 0.3333333333333333), 6)
        |                AS e1_s2,
        |              round(quantile_cont(s2, 0.6666666666666666), 6)
        |                AS e2_s2
        |       FROM spend WHERE s2 IS NOT NULL),
        |tagged AS (
        |  SELECT CASE WHEN s1 IS NULL THEN 'none'
        |              WHEN CAST(s1 AS DOUBLE) <= (SELECT e1_s1 FROM e1)
        |                THEN 'low'
        |              WHEN CAST(s1 AS DOUBLE) <= (SELECT e2_s1 FROM e1)
        |                THEN 'mid'
        |              ELSE 'high' END AS seg_first,
        |         CASE WHEN s2 IS NULL THEN 'none'
        |              WHEN CAST(s2 AS DOUBLE) <= (SELECT e1_s2 FROM e2)
        |                THEN 'low'
        |              WHEN CAST(s2 AS DOUBLE) <= (SELECT e2_s2 FROM e2)
        |                THEN 'mid'
        |              ELSE 'high' END AS seg_second
        |  FROM spend),
        |counts AS (
        |  SELECT seg_first, seg_second, CAST(count(*) AS BIGINT)
        |           AS n_customers
        |  FROM tagged GROUP BY 1, 2)
        |SELECT seg_first, seg_second, n_customers,
        |       round(CAST(n_customers AS DOUBLE)
        |             / (SELECT sum(n_customers) FROM counts), 6) AS share
        |FROM counts ORDER BY seg_first, seg_second""".stripMargin),
    QueryDef("q314_price_dispersion", q314PriceDispersion _,
      """WITH p AS (
        |  SELECT p_brand,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS c
        |  FROM part),
        |agg AS (
        |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |         quantile_cont(c, 0.25) AS q1,
        |         quantile_cont(c, 0.5) AS q2,
        |         quantile_cont(c, 0.75) AS q3
        |  FROM p GROUP BY 1)
        |SELECT p_brand, n_parts,
        |       round(q1 / 100, 2) AS p25,
        |       round(q2 / 100, 2) AS median,
        |       round(q3 / 100, 2) AS p75,
        |       round((q3 - q1) / (q3 + q1), 6) AS cqv
        |FROM agg ORDER BY p_brand""".stripMargin),
    QueryDef("q310_supplier_hhi", q310SupplierHhi _,
      """WITH rev AS (
        |  SELECT CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS VARCHAR)
        |           || '-Q' ||
        |         CAST(quarter(CAST(l_shipdate AS TIMESTAMP)) AS VARCHAR)
        |           AS qtr,
        |         l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |agg AS (
        |  SELECT qtr, CAST(count(*) AS BIGINT) AS n_suppliers,
        |         CAST(sum(r) AS BIGINT) AS rt,
        |         sum(CAST(r AS HUGEINT) * r) AS s2,
        |         CAST(max(r) AS BIGINT) AS rmax
        |  FROM rev GROUP BY 1)
        |SELECT qtr, n_suppliers,
        |       round(CAST(rt AS DOUBLE) / 100, 2) AS revenue,
        |       round(CAST(s2 AS DOUBLE)
        |             / (CAST(rt AS DOUBLE) * CAST(rt AS DOUBLE)), 8)
        |         AS hhi,
        |       round(1.0 / (CAST(s2 AS DOUBLE)
        |             / (CAST(rt AS DOUBLE) * CAST(rt AS DOUBLE))), 4)
        |         AS effective_suppliers,
        |       round(CAST(rmax AS DOUBLE) / rt, 6) AS top_share
        |FROM agg ORDER BY qtr""".stripMargin),
    QueryDef("q303_revenue_var", q303RevenueVar _,
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |vr AS (
        |  SELECT quantile_cont(rev, 0.05) AS var5,
        |         CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(rev) AS BIGINT) AS tot
        |  FROM daily)
        |SELECT v.n_days,
        |       round(CAST(v.tot AS DOUBLE) / v.n_days / 100, 2)
        |         AS mean_daily,
        |       round(v.var5 / 100, 2) AS var5_daily,
        |       CAST(sum(CASE WHEN CAST(d.rev AS DOUBLE) <= v.var5
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
        |       round(CAST(sum(CASE WHEN CAST(d.rev AS DOUBLE) <= v.var5
        |                          THEN d.rev ELSE 0 END) AS DOUBLE)
        |             / sum(CASE WHEN CAST(d.rev AS DOUBLE) <= v.var5
        |                        THEN 1 ELSE 0 END) / 100, 2)
        |         AS cvar_daily
        |FROM daily d, vr v
        |GROUP BY v.n_days, v.var5, v.tot""".stripMargin),
    QueryDef("q281_price_volume_mix", q281PriceVolumeMix _,
      """WITH li AS (
        |  SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS us,
        |         l_partkey,
        |         CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM li),
        |halves AS (
        |  SELECT p.p_type,
        |         CAST(sum(CASE WHEN l.us < (SELECT cut FROM cut)
        |                       THEN l.qty ELSE 0 END) AS BIGINT) AS q0,
        |         CAST(sum(CASE WHEN l.us < (SELECT cut FROM cut)
        |                       THEN l.cents ELSE 0 END) AS BIGINT) AS r0,
        |         CAST(sum(CASE WHEN l.us >= (SELECT cut FROM cut)
        |                       THEN l.qty ELSE 0 END) AS BIGINT) AS q1,
        |         CAST(sum(CASE WHEN l.us >= (SELECT cut FROM cut)
        |                       THEN l.cents ELSE 0 END) AS BIGINT) AS r1
        |  FROM li l JOIN part p ON p.p_partkey = l.l_partkey
        |  GROUP BY 1)
        |SELECT p_type,
        |       round(CAST(r0 AS DOUBLE) / 100, 2) AS rev_first,
        |       round(CAST(r1 AS DOUBLE) / 100, 2) AS rev_second,
        |       round(CAST(r1 - r0 AS DOUBLE) / 100, 2) AS rev_delta,
        |       CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         round(CAST(r0 AS DOUBLE) / q0
        |               * CAST(q1 - q0 AS DOUBLE) / 100, 2)
        |       END AS volume_effect,
        |       CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         round(CAST(q0 AS DOUBLE)
        |               * (CAST(r1 AS DOUBLE) / q1
        |                  - CAST(r0 AS DOUBLE) / q0) / 100, 2)
        |       END AS price_effect,
        |       CASE WHEN q0 > 0 AND q1 > 0 THEN
        |         round((CAST(r1 AS DOUBLE) / q1
        |                - CAST(r0 AS DOUBLE) / q0)
        |               * CAST(q1 - q0 AS DOUBLE) / 100, 2)
        |       END AS cross_effect
        |FROM halves ORDER BY p_type""".stripMargin),
    QueryDef("q274_simpson_audit", q274SimpsonAudit _,
      """WITH per_cust AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(sum(CAST(round(o_totalprice, 0) AS BIGINT))
        |              AS BIGINT) AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |tagged AS (
        |  SELECT c.c_nationkey AS nation, p.x, p.y
        |  FROM per_cust p JOIN customer c ON c.c_custkey = p.custkey),
        |by_nation AS (
        |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2
        |  FROM tagged GROUP BY 1),
        |pooled AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS pn,
        |         CAST(sum(sx) AS BIGINT) AS psx,
        |         CAST(sum(sy) AS BIGINT) AS psy,
        |         CAST(sum(sxy) AS HUGEINT) AS psxy,
        |         CAST(sum(sx2) AS HUGEINT) AS psx2
        |  FROM by_nation)
        |SELECT b.nation, b.n AS n_customers,
        |       CASE WHEN CAST(b.n AS DOUBLE) * CAST(b.sx2 AS DOUBLE)
        |                 - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE)
        |                 <> 0.0
        |            THEN round((CAST(b.n AS DOUBLE)
        |                    * CAST(b.sxy AS DOUBLE)
        |                    - CAST(b.sx AS DOUBLE) * CAST(b.sy AS DOUBLE))
        |                  / (CAST(b.n AS DOUBLE) * CAST(b.sx2 AS DOUBLE)
        |                     - CAST(b.sx AS DOUBLE)
        |                       * CAST(b.sx AS DOUBLE)), 8)
        |       END AS slope,
        |       CASE WHEN CAST(p.pn AS DOUBLE) * CAST(p.psx2 AS DOUBLE)
        |                 - CAST(p.psx AS DOUBLE) * CAST(p.psx AS DOUBLE)
        |                 <> 0.0
        |            THEN round((CAST(p.pn AS DOUBLE)
        |                    * CAST(p.psxy AS DOUBLE)
        |                    - CAST(p.psx AS DOUBLE)
        |                      * CAST(p.psy AS DOUBLE))
        |                  / (CAST(p.pn AS DOUBLE)
        |                     * CAST(p.psx2 AS DOUBLE)
        |                     - CAST(p.psx AS DOUBLE)
        |                       * CAST(p.psx AS DOUBLE)), 8)
        |       END AS pooled_slope,
        |       sign(CAST(b.n AS DOUBLE) * CAST(b.sxy AS DOUBLE)
        |            - CAST(b.sx AS DOUBLE) * CAST(b.sy AS DOUBLE))
        |       * sign(CAST(p.pn AS DOUBLE) * CAST(p.psxy AS DOUBLE)
        |              - CAST(p.psx AS DOUBLE) * CAST(p.psy AS DOUBLE))
        |       < 0.0 AS sign_reversed
        |FROM by_nation b CROSS JOIN pooled p
        |ORDER BY nation""".stripMargin),
    QueryDef("q260_rank_overlap", q260RankOverlap _,
      {
      val w6List = s"[${RboW6.mkString(", ")}]"
      s"""WITH ut AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1),
        |ra AS (
        |  SELECT user_id, ra FROM (
        |    SELECT user_id,
        |           row_number() OVER (ORDER BY cents DESC, user_id) AS ra
        |    FROM ut) WHERE ra <= $RboDepth),
        |rb AS (
        |  SELECT user_id, rb FROM (
        |    SELECT user_id,
        |           row_number() OVER (ORDER BY n_events DESC, user_id)
        |             AS rb
        |    FROM ut) WHERE rb <= $RboDepth),
        |inter_l AS (
        |  SELECT greatest(ra.ra, rb.rb) AS enter_d
        |  FROM ra JOIN rb ON ra.user_id = rb.user_id),
        |spine AS (SELECT unnest(generate_series(1, $RboDepth)) AS d),
        |terms AS (
        |  SELECT s.d,
        |         CAST(count(b.enter_d) AS BIGINT) AS overlap
        |  FROM spine s LEFT JOIN inter_l b ON b.enter_d <= s.d
        |  GROUP BY 1),
        |quant AS (
        |  SELECT d, overlap,
        |         CAST(round(CAST($w6List[d] * overlap AS DOUBLE)
        |                    / CAST(d AS DOUBLE), 0) AS BIGINT)
        |           AS term_micro
        |  FROM terms)
        |SELECT CAST(d AS INTEGER) AS depth, overlap,
        |       round(CAST(sum(term_micro) OVER (ORDER BY d
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6, 6)
        |         AS rbo_cum
        |FROM quant ORDER BY depth""".stripMargin
    }),
    QueryDef("q184_rfm_segments", q184RfmSegments _,
      """WITH by_cust AS (
        |  SELECT o_custkey AS custkey,
        |         max(CAST(o_orderdate AS DATE)) AS last_d,
        |         count(*) AS frequency,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |dmax AS (SELECT max(last_d) AS dmax FROM by_cust),
        |profile AS (
        |  SELECT custkey,
        |         date_diff('day', last_d, (SELECT dmax FROM dmax))
        |           AS recency_days,
        |         frequency, cents
        |  FROM by_cust),
        |scored AS (
        |  SELECT CAST(ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC)
        |              AS INTEGER) AS r_score,
        |         CAST(ntile(5) OVER (ORDER BY frequency DESC, custkey ASC)
        |              AS INTEGER) AS f_score,
        |         CAST(ntile(5) OVER (ORDER BY cents DESC, custkey ASC)
        |              AS INTEGER) AS m_score,
        |         cents
        |  FROM profile)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers,
        |       CAST(sum(cents) AS BIGINT) AS segment_cents
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin),
    QueryDef("q185_pareto_deciles", q185ParetoDeciles _,
      """WITH by_part AS (
        |  SELECT l_partkey AS part,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |deciled AS (
        |  SELECT CAST(ntile(10) OVER (ORDER BY cents DESC, part ASC)
        |              AS INTEGER) AS decile, cents
        |  FROM by_part),
        |per_decile AS (
        |  SELECT decile, count(*) AS n_parts,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM deciled GROUP BY 1),
        |total AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents
        |          FROM per_decile)
        |SELECT decile, n_parts, cents,
        |       round(CAST(cents AS DOUBLE)
        |             / (SELECT total_cents FROM total), 6) AS share,
        |       round(CAST(sum(cents) OVER (ORDER BY decile
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS DOUBLE) / (SELECT total_cents FROM total), 6)
        |         AS cum_share
        |FROM per_decile ORDER BY decile""".stripMargin),
    QueryDef("q211_revenue_gini", q211RevenueGini _,
      """WITH spend AS (
        |  SELECT o_custkey AS custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |by_nation AS (
        |  SELECT c.c_nationkey AS nation, s.custkey, s.cents
        |  FROM spend s JOIN customer c ON c.c_custkey = s.custkey),
        |ranked AS (
        |  SELECT nation, cents,
        |         CAST(row_number() OVER (
        |           PARTITION BY nation ORDER BY cents, custkey)
        |         AS BIGINT) AS i
        |  FROM by_nation),
        |agg AS (
        |  SELECT nation, count(*) AS n_customers,
        |         CAST(sum(cents) AS BIGINT) AS total_cents,
        |         CAST(sum(i * cents) AS BIGINT) AS s_ix
        |  FROM ranked GROUP BY 1)
        |SELECT nation, n_customers, total_cents,
        |       round(CAST(2 * s_ix - (n_customers + 1) * total_cents
        |                  AS DOUBLE)
        |             / CAST(n_customers * total_cents AS DOUBLE), 6)
        |         AS gini
        |FROM agg ORDER BY nation""".stripMargin),
    QueryDef("q193_rank_delta", q193RankDelta _,
      s"""WITH li AS (
        |  SELECT l.l_partkey AS part,
        |         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |         epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS us
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |bounds AS (SELECT min(us) AS t0, max(us) AS t1 FROM li),
        |pa AS (
        |  SELECT part, CAST(sum(cents) AS BIGINT) AS cents_a
        |  FROM li WHERE us * 2 <= (SELECT t0 + t1 FROM bounds)
        |  GROUP BY part),
        |pb AS (
        |  SELECT part, CAST(sum(cents) AS BIGINT) AS cents_b
        |  FROM li WHERE NOT (us * 2 <= (SELECT t0 + t1 FROM bounds))
        |  GROUP BY part),
        |ra AS (SELECT part, cents_a, CAST(row_number() OVER (
        |         ORDER BY cents_a DESC, part ASC) AS INTEGER) AS rank_a
        |       FROM pa),
        |rb AS (SELECT part, cents_b, CAST(row_number() OVER (
        |         ORDER BY cents_b DESC, part ASC) AS INTEGER) AS rank_b
        |       FROM pb)
        |SELECT part, rank_a, rank_b, rank_a - rank_b AS rank_gain,
        |       cents_a, cents_b
        |FROM ra JOIN rb USING (part)
        |ORDER BY rank_gain DESC, cents_b DESC, part
        |LIMIT $TopMovers""".stripMargin),
    QueryDef("q368_revenue_recognition", q368RevenueRecognition _,
      """WITH units AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(l_shipdate AS DATE) AS ship,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2, 3),
        |spans AS (
        |  SELECT u.l_orderkey, u.l_linenumber, u.cents, u.ship,
        |         CAST(o.o_orderdate AS DATE) AS ord
        |  FROM units u JOIN orders o ON o.o_orderkey = u.l_orderkey),
        |norm AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents,
        |         least(ord, ship) AS d1,
        |         least(greatest(ord, ship),
        |               least(ord, ship) + 181) AS d2
        |  FROM spans),
        |monthly AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents, d1, d2,
        |         date_diff('day', d1, d2) + 1 AS total_days,
        |         CAST(unnest(generate_series(date_trunc('month', d1),
        |           date_trunc('month', d2), INTERVAL 1 MONTH)) AS DATE)
        |           AS month
        |  FROM norm),
        |sized AS (
        |  SELECT *,
        |         date_diff('day', greatest(d1, month),
        |                   least(d2, last_day(month))) + 1 AS days
        |  FROM monthly),
        |based AS (
        |  SELECT l_orderkey, l_linenumber, ship, cents, month,
        |         cents * days // total_days AS base,
        |         (cents * days) % total_days AS rem
        |  FROM sized),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY l_orderkey,
        |             l_linenumber, ship
        |           ORDER BY rem DESC, month) AS rem_rank,
        |         cents - sum(base) OVER (PARTITION BY l_orderkey,
        |                                 l_linenumber, ship) AS short
        |  FROM based),
        |alloc AS (
        |  SELECT strftime(month, '%Y-%m') AS month,
        |         base + CASE WHEN rem_rank <= short THEN 1 ELSE 0 END
        |           AS rec
        |  FROM ranked),
        |by_month AS (
        |  SELECT month, CAST(sum(rec) AS BIGINT) AS recognized_cents,
        |         CAST(count(*) AS BIGINT) AS n_line_months
        |  FROM alloc GROUP BY 1)
        |SELECT month, recognized_cents, n_line_months,
        |       round(CAST(recognized_cents AS DOUBLE) /
        |             (SELECT sum(recognized_cents) FROM by_month), 6)
        |         AS share
        |FROM by_month ORDER BY month""".stripMargin),
    QueryDef("q369_open_order_aging", q369OpenOrderAging _,
      """WITH ords AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS ord,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |snap AS (
        |  SELECT min(ord) + CAST(date_diff('day', min(ord), max(ord))
        |    // 2 AS INT) AS snap FROM ords),
        |fulfil AS (
        |  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS fulfilled
        |  FROM lineitem GROUP BY 1),
        |open_orders AS (
        |  SELECT o.cents,
        |         date_diff('day', o.ord, (SELECT snap FROM snap)) AS age
        |  FROM ords o JOIN fulfil f ON f.l_orderkey = o.o_orderkey
        |  WHERE o.ord <= (SELECT snap FROM snap)
        |    AND f.fulfilled > (SELECT snap FROM snap)),
        |bucketed AS (
        |  SELECT CASE WHEN age <= 7 THEN 'a_0_7'
        |              WHEN age <= 30 THEN 'b_8_30'
        |              WHEN age <= 60 THEN 'c_31_60'
        |              ELSE 'd_61_plus' END AS bucket,
        |         cents
        |  FROM open_orders),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM bucketed GROUP BY 1),
        |spine(bucket) AS (VALUES ('a_0_7'), ('b_8_30'), ('c_31_60'),
        |                         ('d_61_plus'))
        |SELECT s.bucket,
        |       CAST(coalesce(a.n_orders, 0) AS BIGINT) AS n_orders,
        |       CAST(coalesce(a.cents, 0) AS BIGINT) AS cents,
        |       round(CAST(coalesce(a.cents, 0) AS DOUBLE) /
        |             (SELECT sum(cents) FROM agg), 6) AS value_share
        |FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
        |ORDER BY s.bucket""".stripMargin),
    QueryDef("q370_abc_classification", q370AbcClassification _,
      """WITH by_part AS (
        |  SELECT l_partkey AS part,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |running AS (
        |  SELECT part, cents,
        |         CAST(sum(cents) OVER (ORDER BY cents DESC, part
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |         CAST(sum(cents) OVER () AS BIGINT) AS total
        |  FROM by_part),
        |classed AS (
        |  SELECT CASE WHEN cum_cents * 5 <= total * 4 THEN 'A'
        |              WHEN cum_cents * 20 <= total * 19 THEN 'B'
        |              ELSE 'C' END AS abc_class,
        |         cents, total
        |  FROM running)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
        |       CAST(sum(cents) AS BIGINT) AS cents,
        |       round(CAST(sum(cents) AS DOUBLE) / max(total), 6)
        |         AS revenue_share
        |FROM classed GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q372_horizon_audit", q372HorizonAudit _,
      {
      val h = RecognitionHorizonDays
      s"""WITH spans AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           AS cents,
        |         date_diff('day',
        |           least(CAST(o.o_orderdate AS DATE),
        |                 CAST(l.l_shipdate AS DATE)),
        |           greatest(CAST(o.o_orderdate AS DATE),
        |                    CAST(l.l_shipdate AS DATE))) + 1 AS raw_days
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN raw_days > $h THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_capped,
        |       round(CAST(sum(CASE WHEN raw_days > $h THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / count(*), 6) AS capped_line_share,
        |       round(CAST(sum(CASE WHEN raw_days > $h THEN cents
        |                       ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(cents) AS BIGINT), 6)
        |         AS capped_value_share,
        |       round(CAST(sum(raw_days) AS DOUBLE) / count(*), 6)
        |         AS mean_raw_span_days,
        |       $h AS horizon_days
        |FROM spans""".stripMargin
    }))
}
