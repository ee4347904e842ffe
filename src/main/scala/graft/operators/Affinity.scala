package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] co-occurrence analytics: market-basket association mining
  * (q173) and multi-touch conversion attribution (q174) — the two
  * "which events explain which outcomes?" operators a commerce or
  * content pipeline runs over its fact streams.
  *
  * Scale shape: q173's pair generation is the classic a-priori
  * downward-closure pipeline — items below min-support are pruned
  * BEFORE the basket self-join (an infrequent item cannot be in a
  * frequent pair), so the quadratic step runs on the filtered basket,
  * and TPC-H baskets are bounded (≤7 lines), making the per-basket
  * blow-up O(1); the item-frequency table is dimension-sized (it
  * scales with SF, so its join strategy is left to AQE — broadcast
  * while small, shuffle beyond). q174 is ONE window
  * pass per user (range frame over event-time micros) — the join
  * formulation (conversions × touches within 7 days) would shuffle a
  * pair row per (conversion, touch), quadratic in per-user activity,
  * while the range frame keeps it linear in events.
  *
  * Determinism discipline: support/confidence/lift are formed from
  * exact BIGINT counts (all products < 2^53, so int→double conversion
  * is exact and the single division correctly rounded — bit-identical
  * cross-engine); top-k ordering breaks rounded-double ties with the
  * pair keys. Attribution picks first/last touch by the unique
  * (event-time micros, event_id) pair, so min/max over the struct is
  * total and tie-free.
  */
object Affinity {

  /** Minimum basket support (a-priori threshold) for q173. */
  private[graft] val MinSup = 3L

  /** Top-k pairs reported by q173. */
  private[graft] val TopPairs = 100

  /** Distinct (basket, item) incidence — one fact scan feeding pair
    * generation AND the basket count. Cached once per (session, dir)
    * since r15: five queries (q173/q183/q214/q282/q346) each re-ran the
    * scan + distinct shuffle. Hash-partitioned by the basket key — the
    * pair/triple self-joins meet on `okey`, so both sides of every
    * self-join read the cached layout exchange-free (the DfCache
    * partitioning contract; distinct() alone would leave the cache on
    * (okey, part)). */
  private def basketItems(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"basket_items|$dir")(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
        .repartition(col("okey")))

  /** A-priori support-pruned oriented co-purchase pairs at `minSup`:
    * (p1, p2, n1, n2, pair_n), p1 < p2 — the pipeline shared by q173
    * (lift rules) and q183 (cosine neighborhoods): items below
    * min-support are pruned BEFORE the basket self-join (downward
    * closure); the freq join strategy is AQE's pick.
    *
    * r15: ONE cached pair table at the family's minimum threshold (2 =
    * [[TriMinSup]] = [[NeighborMinSup]]) serves every consumer —
    * q173's minSup 3 view is EXACTLY `pair_n >= 3` over it: n1/n2 are
    * raw item frequencies (unaffected by the item prune), and an item
    * with nf < 3 can only reach pair_n ≤ nf < 3, so the item-prune at
    * 3 removes no pair that the pair_n filter keeps. Before, the scan
    * + distinct + self-join + aggregate pipeline ran once per
    * consumer (4× per bench run). */
  private def supportedPairs(spark: SparkSession, dir: String,
      minSup: Long): DataFrame = {
    require(minSup >= 2L, s"pair cache floor is 2, got $minSup")
    val base = graft.sources.DfCache.df(spark, s"basket_pairs2|$dir")({
      val items = basketItems(spark, dir)
      val freq = items.groupBy("part").agg(count(lit(1)).as("nf"))
        .filter(col("nf") >= 2L)
      // UNHINTED (r16, VERDICT r15 #1): freq is item-dimension-sized —
      // it scales linearly with SF, so a forced broadcast is an OOM at
      // the 100 TB design point; AQE broadcasts while small and falls
      // back to shuffle/SMJ beyond. One-time cached build either way.
      val fi = items.join(freq, Seq("part"))
        .select(col("okey"), col("part"), col("nf"))
      fi.alias("a")
        .join(fi.alias("b"),
          col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
        .groupBy(col("a.part").as("p1"), col("b.part").as("p2"),
          col("a.nf").as("n1"), col("b.nf").as("n2"))
        .agg(count(lit(1)).as("pair_n"))
        .filter(col("pair_n") >= 2L)
    })
    if (minSup == 2L) base else base.filter(col("pair_n") >= minSup)
  }

  /** Shared oracle CTE prefix mirroring [[supportedPairs]]. */
  private def pairsCte(minSup: Long): String =
    s"""WITH items AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
      |  FROM lineitem),
      |freq AS MATERIALIZED (
      |  SELECT part, count(*) AS nf FROM items
      |  GROUP BY part HAVING count(*) >= $minSup),
      |fi AS MATERIALIZED (
      |  SELECT i.okey, i.part, f.nf FROM items i JOIN freq f USING (part)),
      |pairs AS MATERIALIZED (
      |  SELECT a.part AS p1, b.part AS p2, a.nf AS n1, b.nf AS n2,
      |         count(*) AS pair_n
      |  FROM fi a JOIN fi b ON a.okey = b.okey AND a.part < b.part
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $minSup)""".stripMargin

  /** q173 — market-basket association rules over lineitem baskets
    * (basket = order, item = part): for every part pair occurring in
    * ≥ [[MinSup]] baskets, support, confidence(p1→p2) and lift, top
    * [[TopPairs]] by lift. Items are deduplicated per basket first
    * (a part twice in one order counts once); pair generation via
    * [[supportedPairs]]; the basket count comes from the same
    * incidence projection — the fact table is scanned once. */
  def q173BasketLift(spark: SparkSession, dir: String): DataFrame = {
    val nOrders = basketItems(spark, dir)
      .agg(count_distinct(col("okey")).as("n_orders"))
    supportedPairs(spark, dir, MinSup).crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("pair_n"), col("n1"), col("n2"),
        round(col("pair_n").cast("double") / col("n_orders"), 6)
          .as("support"),
        round(col("pair_n").cast("double") / col("n1"), 6)
          .as("confidence"),
        round((col("n_orders") * col("pair_n")).cast("double") /
          (col("n1") * col("n2")), 6).as("lift"))
      .orderBy(col("lift").desc, col("pair_n").desc, col("p1"), col("p2"))
      .limit(TopPairs)
  }

  /** Triple support threshold for q214 (the data's max triple support
    * is small — baskets hold ≤ 7 items — so the threshold is the
    * repeated-triple cut, not a tuning knob). */
  private[graft] val TriMinSup = 2L

  /** q214 — A-PRIORI FREQUENT TRIPLES: the second pruning level of
    * market-basket mining (q173 is level one). Downward closure does
    * the work twice: items are restricted to members of some
    * ≥[[TriMinSup]]-support PAIR before the basket 3-way self-join
    * (a triple can only be frequent if all three pairs are), so the
    * cubic candidate space never materializes — per basket the join
    * is bounded by C(frequent items in basket, 3), and TPC-H baskets
    * hold ≤ 7 items. Output carries the three pair supports as exact
    * integers (the audit columns a rule miner thresholds on);
    * equality with the naive all-triples oracle is EXACT because
    * downward closure loses nothing — the same
    * semantics-vs-scalable-form split as q200/q203. */
  def q214FrequentTriples(spark: SparkSession, dir: String): DataFrame =
    frequentTriples(spark, dir)
      .orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))

  /** The q214 triple table WITH its three pair supports, cached once
    * per (session, dir) — q282 scores every rule orientation of
    * exactly these rows, so before r15 the whole triple-mining
    * pipeline (and its pair-table prerequisite) ran twice per bench
    * run; the registered plans also inlined the full a-priori subtree
    * once per broadcast pair-support arm (214/226 Exchange nodes in
    * the q214/q282 plans). The cache is triple-count-sized. */
  private def frequentTriples(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DfCache.df(spark, s"basket_triples|$dir")({
      val pairs2 = supportedPairs(spark, dir, TriMinSup)
        .select("p1", "p2", "pair_n")
      // members / pair supports UNHINTED (r16, VERDICT r15 #1): both
      // are item-/pair-count-sized and scale with SF — strategy left
      // to AQE inside this one-time cached build (at sf0.1 it still
      // picks broadcast at runtime from real sizes, not estimates)
      val members = pairs2.select(col("p1").as("part"))
        .unionByName(pairs2.select(col("p2").as("part"))).distinct()
      val fi = basketItems(spark, dir).join(members, Seq("part"))
      val tri = fi.alias("a")
        .join(fi.alias("b"),
          col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
        .join(fi.alias("c"),
          col("a.okey") === col("c.okey") && col("b.part") < col("c.part"))
        .groupBy(col("a.part").as("pa"), col("b.part").as("pb"),
          col("c.part").as("pc"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= TriMinSup)
      def sup(x: String, y: String, as: String) = pairs2.select(
        col("p1").as(x), col("p2").as(y), col("pair_n").as(as))
      tri
        .join(sup("pa", "pb", "sup_ab"), Seq("pa", "pb"))
        .join(sup("pa", "pc", "sup_ac"), Seq("pa", "pc"))
        .join(sup("pb", "pc", "sup_bc"), Seq("pb", "pc"))
        .select(col("pa"), col("pb"), col("pc"), col("support"),
          col("sup_ab"), col("sup_ac"), col("sup_bc"))
    })

  /** Attribution lookback window in event-time microseconds (7 days). */
  private[graft] val LookbackUs = 7L * 24 * 3600 * 1000000L

  /** q174 — first/last-touch conversion attribution: each `purchase`
    * is credited to the earliest and the latest qualifying touch
    * (`click`/`view`/`signup`) by the same user within the
    * [[LookbackUs]] window ending at the purchase; purchases with no
    * touch in window land in channel `none`. Output: per channel, how
    * many conversions it wins under each attribution model.
    *
    * One range-frame window pass per user (order by event-time micros,
    * frame [−7 d, 0]); the conditional min/max over
    * struct(us, event_id, type) ignores non-touch rows and is total
    * because (us, event_id) is unique. */
  def q174Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-LookbackUs, 0)
    val touch = col("event_type").isin("click", "view", "signup")
    val convs = ev
      .withColumn("first_touch",
        min(when(touch, struct(col("us"), col("event_id"),
          col("event_type")))).over(w))
      .withColumn("last_touch",
        max(when(touch, struct(col("us"), col("event_id"),
          col("event_type")))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("first_touch.event_type"), lit("none")).as("cf"),
        coalesce(col("last_touch.event_type"), lit("none")).as("cl"))
    val first = convs.groupBy(col("cf").as("channel"))
      .agg(count(lit(1)).as("first_touch_convs"))
    val last = convs.groupBy(col("cl").as("channel"))
      .agg(count(lit(1)).as("last_touch_convs"))
    first.join(last, Seq("channel"), "full_outer")
      .select(col("channel"),
        coalesce(col("first_touch_convs"), lit(0L)).as("first_touch_convs"),
        coalesce(col("last_touch_convs"), lit(0L)).as("last_touch_convs"))
      .orderBy("channel")
  }

  /** Pair support floor and neighborhood size for q183. */
  private[graft] val NeighborMinSup = 2L
  private[graft] val TopNeighbors = 5

  /** q183 — item-item cosine neighborhoods (the memory-based
    * collaborative filter): for every part, its [[TopNeighbors]] most
    * similar parts by co-purchase cosine pair_n / √(n1·n2) over
    * ≥ [[NeighborMinSup]]-support pairs. Same a-priori-pruned pair
    * pipeline as q173, then the oriented pairs are symmetrized
    * (union of both directions — each direction computed once) and
    * ranked per item by a window over the PAIR table, which is
    * support-pruned and therefore far smaller than items²; the cosine
    * is a single correctly-rounded division of √(exact product), so
    * ranking on the unrounded value is cross-engine-stable, with
    * (pair_n desc, neighbor) breaking exact ties. */
  def q183ItemNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = supportedPairs(spark, dir, NeighborMinSup)
    val sym = pairs.select(col("p1").as("item"), col("p2").as("neighbor"),
        col("n1"), col("n2"), col("pair_n"))
      .unionByName(pairs.select(col("p2").as("item"), col("p1").as("neighbor"),
        col("n2").as("n1"), col("n1").as("n2"), col("pair_n")))
      .withColumn("cos",
        col("pair_n").cast("double") / sqrt((col("n1") * col("n2"))
          .cast("double")))
    sym.withColumn("rank", row_number().over(
        Window.partitionBy("item")
          .orderBy(col("cos").desc, col("pair_n").desc, col("neighbor"))))
      .filter(col("rank") <= TopNeighbors)
      .select(col("item"), col("rank"), col("neighbor"), col("pair_n"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("item", "rank")
  }

  /** q186 — behavioral affinity between event types: each type is a
    * user-indexed count vector; for every type pair, the cosine of
    * those vectors — "do the users who click also purchase?". The
    * self-join runs on the (user, type, n) profile — ≤ |types| rows
    * per user — so pair partials combine map-side and the output is
    * |types|²/2 rows at any event volume. Dot products and norms fold
    * exact BIGINTs (all < 2^53); cosine is √+division, pinned
    * identically in the oracle. */
  def q186TypeAffinity(spark: SparkSession, dir: String): DataFrame = {
    val vec = Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    val norms = vec.groupBy("event_type")
      .agg(sum(col("n") * col("n")).as("norm2"))
    val dots = vec.alias("a")
      .join(vec.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(sum(col("a.n") * col("b.n")).as("dot"),
        count(lit(1)).as("n_users"))
    dots
      .join(broadcast(norms.withColumnRenamed("event_type", "t1")
        .withColumnRenamed("norm2", "norm1")), Seq("t1"))
      .join(broadcast(norms.withColumnRenamed("event_type", "t2")), Seq("t2"))
      .select(col("t1"), col("t2"), col("n_users"), col("dot"),
        round(col("dot").cast("double") /
          sqrt((col("norm1") * col("norm2")).cast("double")), 6)
          .as("cosine"))
      .orderBy("t1", "t2")
  }

  /** q282 rules reported. */
  private[graft] val TopRules = 20

  /** q282 — ASSOCIATION RULES from the frequent triples: every
    * {a,b} → c orientation of each q214 triple, scored with exact
    * confidence (support₃/support₂) and lift (confidence /
    * base-rate(c)) — the third mining level: q173 scores PAIR lift,
    * q214 finds the triples, this ranks the ACTIONABLE implications
    * ("basket already holds a and b — how much does that multiply
    * c's odds?"). Top [[TopRules]] by lift.
    *
    * Exactness: supports are exact integers from the shared a-priori
    * pipeline; confidence and lift are fixed double expressions over
    * them, mirrored verbatim; the ranking key is (lift, confidence,
    * antecedents, consequent) with lift formed identically in both
    * engines. The triple table is the q214 output itself — no extra
    * basket pass. */
  def q282AssociationRules(spark: SparkSession, dir: String): DataFrame = {
    val tri = frequentTriples(spark, dir)
    val nBaskets = basketItems(spark, dir)
      .select(countDistinct(col("okey")).as("n_baskets"))
    val itemSup = basketItems(spark, dir)
      .groupBy("part").agg(count(lit(1)).as("item_n"))
    // one inline over a 3-struct array, NOT union of three selects —
    // a union would triplicate the whole triple-mining subtree in the
    // physical plan (3× the a-priori pipeline); inline keeps one copy
    def o(a1: String, a2: String, cs: String, sup: String) =
      struct(col(a1).as("ant1"), col(a2).as("ant2"), col(cs).as("cons"),
        col("support").as("support"), col(sup).as("sup_ant"))
    val rules = tri.select(inline(array(
      o("pa", "pb", "pc", "sup_ab"),
      o("pa", "pc", "pb", "sup_ac"),
      o("pb", "pc", "pa", "sup_bc"))))
    val conf = col("support").cast("double") / col("sup_ant")
    val lift = conf * col("n_baskets").cast("double") / col("item_n")
    rules
      // itemSup UNHINTED (r16): item-dimension-sized, scales with SF —
      // AQE picks the strategy; the rules side is triple-count-sized
      .join(itemSup.select(col("part").as("cons"), col("item_n")),
        Seq("cons"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ant1"), col("ant2"), col("cons"), col("support"),
        col("sup_ant"), col("item_n"),
        round(conf, 6).as("confidence"), round(lift, 6).as("lift"))
      .orderBy(col("lift").desc, col("confidence").desc, col("ant1"),
        col("ant2"), col("cons"))
      .limit(TopRules)
  }

  /** q346 — BASKET-SIZE PROFILE: the distinct-items-per-order
    * histogram with mean and dispersion index — the measured
    * foundation under every a-priori scaladoc claim in this module
    * ("baskets are bounded, so the pair/triple blow-up is C(≤k, 3)"):
    * registering the distribution turns that scale assumption into a
    * monitored artifact that drifts visibly if order shapes change.
    *
    * Exactness: sizes and the histogram exact; mean/dispersion fixed
    * double expressions over exact moment folds (Σk² in
    * decimal(38)/HUGEINT). */
  def q346BasketSizeProfile(spark: SparkSession, dir: String): DataFrame = {
    val sizes = basketItems(spark, dir)
      .groupBy("okey").agg(count(lit(1)).as("k"))
    val hist = sizes.groupBy("k").agg(count(lit(1)).as("n_orders"))
    val mom = sizes.agg(count(lit(1)).as("n"), sum("k").as("sk"),
      sum(col("k").cast("decimal(38,0)") * col("k")).as("sk2"))
    val m = col("sk").cast("double") / col("n")
    val varK = (col("sk2").cast("double") -
      col("sk").cast("double") * m) / col("n")
    hist.crossJoin(broadcast(mom))
      .select(col("k").as("basket_size"), col("n_orders"),
        round(col("n_orders").cast("double") / col("n"), 6)
          .as("order_share"),
        round(m, 4).as("mean_size"),
        round(varK / m, 6).as("dispersion_index"))
      .orderBy("basket_size")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q346_basket_size_profile", q346BasketSizeProfile _,
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
        |  FROM lineitem),
        |sizes AS (
        |  SELECT okey, CAST(count(*) AS BIGINT) AS k
        |  FROM items GROUP BY 1),
        |hist AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM sizes GROUP BY 1),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(k) AS BIGINT) AS sk,
        |         sum(CAST(k AS HUGEINT) * k) AS sk2
        |  FROM sizes)
        |SELECT h.k AS basket_size, h.n_orders,
        |       round(CAST(h.n_orders AS DOUBLE) / m.n, 6) AS order_share,
        |       round(CAST(m.sk AS DOUBLE) / m.n, 4) AS mean_size,
        |       round((CAST(m.sk2 AS DOUBLE)
        |              - CAST(m.sk AS DOUBLE)
        |                * (CAST(m.sk AS DOUBLE) / m.n)) / m.n
        |             / (CAST(m.sk AS DOUBLE) / m.n), 6)
        |         AS dispersion_index
        |FROM hist h, mom m
        |ORDER BY basket_size""".stripMargin),
    QueryDef("q282_association_rules", q282AssociationRules _,
      s"""${pairsCte(TriMinSup)},
        |tri AS MATERIALIZED (
        |  SELECT a.part AS pa, b.part AS pb, c.part AS pc,
        |         count(*) AS support
        |  FROM items a
        |  JOIN items b ON b.okey = a.okey AND b.part > a.part
        |  JOIN items c ON c.okey = a.okey AND c.part > b.part
        |  GROUP BY 1, 2, 3 HAVING count(*) >= $TriMinSup),
        |tri_s AS MATERIALIZED (
        |  SELECT pa, pb, pc, support,
        |         ab.pair_n AS sup_ab, ac.pair_n AS sup_ac,
        |         bc.pair_n AS sup_bc
        |  FROM tri
        |  JOIN pairs ab ON ab.p1 = pa AND ab.p2 = pb
        |  JOIN pairs ac ON ac.p1 = pa AND ac.p2 = pc
        |  JOIN pairs bc ON bc.p1 = pb AND bc.p2 = pc),
        |item_sup AS (SELECT part, CAST(count(*) AS BIGINT) AS item_n
        |             FROM items GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets
        |       FROM items),
        |rules AS (
        |  SELECT pa AS ant1, pb AS ant2, pc AS cons, support,
        |         sup_ab AS sup_ant FROM tri_s
        |  UNION ALL
        |  SELECT pa, pc, pb, support, sup_ac FROM tri_s
        |  UNION ALL
        |  SELECT pb, pc, pa, support, sup_bc FROM tri_s),
        |scored AS (
        |  SELECT r.ant1, r.ant2, r.cons,
        |         CAST(r.support AS BIGINT) AS support,
        |         CAST(r.sup_ant AS BIGINT) AS sup_ant, i.item_n,
        |         round(CAST(r.support AS DOUBLE) / r.sup_ant, 6)
        |           AS confidence,
        |         round(CAST(r.support AS DOUBLE) / r.sup_ant
        |               * CAST((SELECT n_baskets FROM nb) AS DOUBLE)
        |               / i.item_n, 6) AS lift
        |  FROM rules r JOIN item_sup i ON i.part = r.cons)
        |SELECT ant1, ant2, cons, support, sup_ant, item_n,
        |       confidence, lift
        |FROM scored
        |ORDER BY lift DESC, confidence DESC, ant1, ant2, cons
        |LIMIT $TopRules""".stripMargin),
    QueryDef("q173_basket_lift", q173BasketLift _,
      s"""${pairsCte(MinSup)},
        |n_orders AS (
        |  SELECT count(DISTINCT okey) AS n_orders FROM items)
        |SELECT p1, p2, pair_n, n1, n2,
        |       round(CAST(pair_n AS DOUBLE)
        |             / (SELECT n_orders FROM n_orders), 6) AS support,
        |       round(CAST(pair_n AS DOUBLE) / n1, 6) AS confidence,
        |       round(CAST((SELECT n_orders FROM n_orders) * pair_n AS DOUBLE)
        |             / (n1 * n2), 6) AS lift
        |FROM pairs
        |ORDER BY lift DESC, pair_n DESC, p1, p2
        |LIMIT $TopPairs""".stripMargin),
    QueryDef("q214_frequent_triples", q214FrequentTriples _,
      s"""${pairsCte(TriMinSup)},
        |tri AS MATERIALIZED (
        |  SELECT a.part AS pa, b.part AS pb, c.part AS pc,
        |         count(*) AS support
        |  FROM items a
        |  JOIN items b ON b.okey = a.okey AND b.part > a.part
        |  JOIN items c ON c.okey = a.okey AND c.part > b.part
        |  GROUP BY 1, 2, 3 HAVING count(*) >= $TriMinSup)
        |SELECT pa, pb, pc, support,
        |       ab.pair_n AS sup_ab, ac.pair_n AS sup_ac,
        |       bc.pair_n AS sup_bc
        |FROM tri
        |JOIN pairs ab ON ab.p1 = pa AND ab.p2 = pb
        |JOIN pairs ac ON ac.p1 = pa AND ac.p2 = pc
        |JOIN pairs bc ON bc.p1 = pb AND bc.p2 = pc
        |ORDER BY support DESC, pa, pb, pc""".stripMargin),
    QueryDef("q174_attribution", q174Attribution _,
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |convs AS (SELECT user_id, event_id, us FROM ev
        |          WHERE event_type = 'purchase'),
        |touches AS (SELECT user_id, event_id, event_type, us FROM ev
        |            WHERE event_type IN ('click', 'view', 'signup')),
        |attributed AS (
        |  SELECT c.event_id AS conv_id, t.event_type, t.us, t.event_id,
        |         row_number() OVER (PARTITION BY c.event_id
        |           ORDER BY t.us, t.event_id) AS rn_first,
        |         row_number() OVER (PARTITION BY c.event_id
        |           ORDER BY t.us DESC, t.event_id DESC) AS rn_last
        |  FROM convs c JOIN touches t
        |    ON t.user_id = c.user_id
        |   AND t.us BETWEEN c.us - $LookbackUs AND c.us),
        |per_conv AS (
        |  SELECT c.event_id AS conv_id,
        |         COALESCE(f.event_type, 'none') AS cf,
        |         COALESCE(l.event_type, 'none') AS cl
        |  FROM convs c
        |  LEFT JOIN attributed f ON f.conv_id = c.event_id AND f.rn_first = 1
        |  LEFT JOIN attributed l ON l.conv_id = c.event_id AND l.rn_last = 1),
        |first AS (SELECT cf AS channel, count(*) AS first_touch_convs
        |          FROM per_conv GROUP BY cf),
        |last AS (SELECT cl AS channel, count(*) AS last_touch_convs
        |         FROM per_conv GROUP BY cl)
        |SELECT channel,
        |       COALESCE(first_touch_convs, 0) AS first_touch_convs,
        |       COALESCE(last_touch_convs, 0) AS last_touch_convs
        |FROM first FULL OUTER JOIN last USING (channel)
        |ORDER BY channel""".stripMargin),
    QueryDef("q183_item_neighbors", q183ItemNeighbors _,
      s"""${pairsCte(NeighborMinSup)},
        |sym AS (
        |  SELECT p1 AS item, p2 AS neighbor, n1, n2, pair_n FROM pairs
        |  UNION ALL
        |  SELECT p2, p1, n2, n1, pair_n FROM pairs),
        |scored AS (
        |  SELECT item, neighbor, pair_n,
        |         CAST(pair_n AS DOUBLE)
        |           / sqrt(CAST(n1 * n2 AS DOUBLE)) AS cos
        |  FROM sym),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY item
        |    ORDER BY cos DESC, pair_n DESC, neighbor) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT item, rank, neighbor, pair_n, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= $TopNeighbors
        |ORDER BY item, rank""".stripMargin),
    QueryDef("q186_type_affinity", q186TypeAffinity _,
      """WITH vec AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |norms AS (
        |  SELECT event_type, CAST(sum(n * n) AS BIGINT) AS norm2
        |  FROM vec GROUP BY 1),
        |dots AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |         CAST(sum(a.n * b.n) AS BIGINT) AS dot,
        |         count(*) AS n_users
        |  FROM vec a JOIN vec b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t1, t2, n_users, dot,
        |       round(CAST(dot AS DOUBLE)
        |             / sqrt(CAST(n1.norm2 * n2.norm2 AS DOUBLE)), 6)
        |         AS cosine
        |FROM dots
        |JOIN norms n1 ON n1.event_type = t1
        |JOIN norms n2 ON n2.event_type = t2
        |ORDER BY t1, t2""".stripMargin))
}
