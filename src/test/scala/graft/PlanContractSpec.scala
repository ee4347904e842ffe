package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BinaryComparison, Expression, In, IsNotNull}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec, FilterExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, ProjectExec, RangeExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.GraftFilterTranslator
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The ENFORCED physical-plan contract over every registered query
  * (VERDICT r08 #1): `graft.Explain` dumps plans for a hand audit, and an
  * r03-era spec pinned q35 only — this spec generalizes that check so
  * a future edit that silently regresses a join strategy (a data×data
  * cartesian, a nested-loop pair scan, a simple scan predicate that
  * stops translating into the reader) fails ONE NAMED TEST instead of
  * waiting for a bench diff. It is the `Tables.eventsDecoder` lesson
  * (turn silent misbehavior into one loud failure) applied to plans.
  *
  * The contract is checked on `queryExecution.sparkPlan` — the
  * selected physical plan BEFORE exchange insertion and adaptive
  * wrapping, so the tree is fully traversable (the AQE wrapper is a
  * leaf node that would hide everything) and join-strategy choices
  * are exactly what the planner committed to. Subquery INNER plans
  * (still logical at this stage) are planned and recursed into with
  * the same rules (VERDICT r09 #4), so a cartesian or unpushed scan
  * hiding inside a scalar subquery fails the same named test.
  *
  * Rules:
  *  1. `CartesianProductExec` never appears — no exceptions. (Even
  *     the deliberate small-dims cross join q16 must broadcast one
  *     side.)
  *  2. `BroadcastNestedLoopJoinExec` is allowed ONLY when the build
  *     side provably stays tiny — a no-grouping aggregate, a
  *     LIMIT/local relation/Range of ≤ [[PlanContract.SmallBuild]]
  *     rows, or a broadcast-join of such — reached through
  *     row-preserving operators ([[PlanContract.tinyBuild]]); OR the
  *     query is in [[PlanContract.BnljAllow]], where each entry
  *     documents WHY its build is bounded by something the planner
  *     cannot see (a unique-key equality, a fixed sampling rate, a
  *     k-bounded model table, an enum-keyed sketch table).
  *  3. Every parquet data filter with a PUSHABLE SHAPE — a bare
  *     attribute of atomic type compared to a literal, an IN over
  *     literals, or IsNotNull of an attribute — must actually
  *     translate into a reader predicate. Computed-expression guards
  *     (`isnotnull(md5(text))`, size-of-split bounds) are legitimately
  *     untranslatable and ignored; but a simple predicate that stops
  *     translating means every row group is read only to drop rows
  *     post-materialization — exactly the 100 TB regression this
  *     audit exists to catch.
  *  4. GLOBAL windows (empty partitionSpec — every row through ONE
  *     task) are allowed only for queries in
  *     [[PlanContract.GlobalWindowAllow]], each entry documenting the
  *     profile-bounded table the window runs over (dimension / score
  *     / calendar / sketch-width profiles, never raw facts).
  */
object PlanContract {

  /** LIMIT/Range/local-relation sizes at or under this bound count as
    * a tiny build side. */
  val SmallBuild = 1000

  /** Queries whose BNLJ build side is bounded by construction in a
    * way the planner cannot prove — each entry documents the bound.
    * An entry here still forbids cartesians and unpushed simple
    * predicates; it only licenses the named query's nested-loop
    * broadcast. */
  val BnljAllow: Map[String, String] = Map(
    // deliberate dimension cross join: build = region scan (5 rows)
    "q16_cross_join" -> "region dimension scan, 5 rows",
    // month spine × distinct-bucket densify: build ≤ |ladder|+1 = 177
    // rows by construction (bucket of the pinned DDSketch boundary
    // ladder), unprovable to the planner through the distinct
    "q380_quantile_trajectory" -> "distinct bucket set (≤ 177 rows)",
    // single query vector selected by unique-key equality vec_id = 0
    "q120_hybrid_rrf" -> "one query vector (vec_id = 0)",
    "q133_cell_serving" -> "one query vector (vec_id = 0)",
    // FIXED-COUNT query batch (round 13, VERDICT r12 #1): the
    // Similarity.QueryBatchSize (20) vec_ids whose md5("annq_"||id)
    // sort first — the broadcast build is structurally CONSTANT (20
    // rows regardless of corpus size) and the chartered brute
    // ground-truth arm is O(N·Q0), linear in the corpus. q36 is the
    // MANDATED exact brute baseline (SURVEY §2: ANN "brute-force
    // cosine top-k as the baseline"); q37/q113/q170/q311 reuse its
    // cached ground-truth table (the r10 cache-sharing design) or
    // carry their own query-batch arm.
    "q36_ann_brute_topk" -> "fixed 20-query hash batch, the baseline",
    "q37_ann_lsh_topk" -> "cached q36 brute table (fixed 20-query batch)",
    "q113_ann_pq" -> "cached brute/ADC arms (fixed 20-query batch)",
    "q170_context_assembly" -> "cached q36 brute table (fixed 20-query batch)",
    "q311_ild_audit" -> "cached q36 brute table (fixed 20-query batch)",
    "q129_ann_truncated" -> "fixed 20-query hash batch",
    "q131_negative_sampling" -> "fixed 20-query hash batch",
    "q255_retrieval_mrr" -> "fixed 20-query hash batch",
    "q263_retrieval_ndcg" -> "fixed 20-query hash batch",
    "q315_retrieval_map" -> "fixed 20-query hash batch",
    // all-pairs over a dimension-bounded profile: ≤ |nations| rows
    "q267_kendall_tau" -> "nation-grain profile (≤ nations rows)",
    // source-pair spine × 2^|sources|-row membership-mask histogram
    "q273_source_overlap" -> "source pairs × mask histogram (enum-sized)",
    // source-pair spine: |sources|-row total table each side
    "q276_weighted_overlap" -> "source-total pair spine (enum-sized)",
    // posexplode of the 11-boundary percentile profile: exactly 10
    // probe rows by construction (sequence(1, 10) over a grouping-less
    // aggregate), invisible through the Generate node
    "q290_selectivity_calibration" -> "10-row decile probe table",
    // cached k-bounded centroid/codebook tables (k IVF lists / PQ
    // codewords per subspace — model-size, not data-size)
    "q52_ann_ivf_topk" -> "cached centroid table, k rows",
    "q148_ann_incremental" -> "cached centroid table, k rows",
    "q114_ann_ivfpq" -> "cached centroid + codebook tables",
    "q107_semantic_dedup" -> "cached centroid table, k rows",
    // per-event-type HLL sketch table: enum-keyed, ≤ |types| rows
    "q153_hll_intersect" -> "per-type sketch table, enum-keyed",
    // dense-grid spines: build = distinct over an enum-sized key
    "q175_gap_fill" -> "hourly spine × distinct event types",
    "q246_linear_interpolate" -> "hourly spine × distinct event types",
    "q201_chi_square" -> "types × weekdays zero-fill distincts",
    "q306_cramers_v" -> "attribute-distinct zero-fill spines (≤ 25×5)",
    // week-spine ≤-join over the |weeks|-row cohort-size profile
    // (right-censoring mass per offset, the q235 at-risk shape)
    "q359_ltv_curve" -> "weekly cohort-size profile (≤ |weeks| rows)",
    // day-spine ≥-join over the (group, days-to-ship) profile
    // (at-risk mass per event time, the q235/q359 censoring shape)
    "q365_logrank_test" -> "days-to-ship profile (≤ 2·|days| rows)",
    // day-spine ≤-joins over the |days|×k sketch-element profile
    "q226_incremental_kmv" ->
      "calendar day spine × sketch-element profile (days × k rows)",
    // type-pair spine OR-join over the |types|×k sketch elements
    "q228_kmv_jaccard" ->
      "per-type sketch element table (|types| × k rows)",
    // dense smoothed-distribution spine: build = distinct sources
    // (enum-sized — the output is a |sources|² pairwise report, only
    // meaningful for enum-scale source sets) × the FIXED 1024-bucket
    // hashed feature grid
    "q231_source_jsd" ->
      "source spine × fixed 1024-bucket grid (|sources| × 1024 rows)",
    // PAV minimax expansions over the 10-row bin profile: i≤j pooled
    // segments (≤ bins²/2) and the i≤k≤j cover join (≤ bins³) — all
    // structurally bounded by the BIN COUNT, never by users
    "q237_isotonic_calibrate" ->
      "10-row score-bin profile expansions (≤ bins³ rows)",
    // clip ladder: posexplode of the 4-probe percentile array off a
    // 1-row aggregate — bounded by the LADDER length, Generate just
    // hides it from the static walk
    "q245_clip_calibration" ->
      "4-row clip ladder (1-row percentile aggregate exploded)")

  /** True when `p` provably emits at most ~[[SmallBuild]] rows, by
    * structural descent through row-preserving operators. */
  def tinyBuild(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty || tinyBuild(a.child)
    case g: GlobalLimitExec    => g.limit <= SmallBuild
    case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
      t.limit <= SmallBuild
    case c: CollectLimitExec   => c.limit <= SmallBuild
    case l: LocalLimitExec     => l.limit <= SmallBuild || tinyBuild(l.child)
    case l: LocalTableScanExec => l.rows.size <= SmallBuild
    case r: RangeExec          => r.numElements <= BigInt(SmallBuild)
    case p: ProjectExec        => tinyBuild(p.child)
    case f: FilterExec         => tinyBuild(f.child)
    case s: SortExec           => tinyBuild(s.child)
    // windows are row-preserving: rank/agg columns over a tiny input
    // stay tiny (the q259 x_(k+1) scalar shape)
    case w: org.apache.spark.sql.execution.window.WindowExec =>
      tinyBuild(w.child)
    // a broadcast join of two tiny sides is at most their product —
    // the nested-scalar crossJoin chain (q147's shape)
    case j: BroadcastNestedLoopJoinExec =>
      tinyBuild(j.left) && tinyBuild(j.right)
    case j: BroadcastHashJoinExec =>
      tinyBuild(j.left) && tinyBuild(j.right)
    // a cached relation holds exactly the rows its cached plan
    // produced — descend into it (VERDICT r10 #2)
    case im: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => tinyBuild(unwrapAqe(im.relation.cachedPlan))
    // materialized adaptive stages / exchange reuses are leaves over
    // row-preserving wrappers — descend
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      tinyBuild(qs.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      tinyBuild(r.child)
    case other => other.children match {
      // descend through single-child wrappers that preserve row count
      // (exchanges, reuse, codegen adaptors); Generate/Union/Expand
      // can grow row counts and fall through to false
      case Seq(only) if other.nodeName.contains("Exchange") ||
        other.nodeName.contains("Subquery") ||
        other.nodeName.contains("InputAdapter") ||
        other.nodeName.contains("WholeStageCodegen") => tinyBuild(only)
      case _ => false
    }
  }

  /** Cached plans compiled under AQE wrap their tree in an
    * `AdaptiveSparkPlanExec` LEAF — unwrap to the current physical
    * tree so the walk can see inside. */
  private def unwrapAqe(p: SparkPlan): SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  /** An EXECUTED adaptive plan replaces materialized exchange subtrees
    * with `QueryStageExec` LEAVES (and re-reads with `ReusedExchange`
    * leaves) — `collect` cannot see inside either, which is exactly
    * where a cached query's BNLJ sits once a prior test/query has run
    * it. Expand every such leaf so the walk sees the full tree
    * regardless of execution state. Terminates because each stage's
    * inner plan is a strictly smaller tree. */
  private def expanded(plan: SparkPlan): Seq[SparkPlan] =
    plan +: (plan.collect {
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        qs.plan
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        r.child
    }).flatMap(expanded)

  private def atomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  /** A predicate shape the parquet source CAN push: bare atomic
    * attribute vs literal (or IsNotNull / IN-literals on one). */
  def pushableShape(e: Expression): Boolean = e match {
    case IsNotNull(a: AttributeReference) => atomic(a.dataType)
    case b: BinaryComparison => (b.left, b.right) match {
      case (a: AttributeReference, l) => atomic(a.dataType) && l.foldable
      case (l, a: AttributeReference) => atomic(a.dataType) && l.foldable
      case _ => false
    }
    case In(a: AttributeReference, vs) =>
      atomic(a.dataType) && vs.forall(_.foldable)
    case _ => false
  }

  /** Queries whose GLOBAL (unpartitioned) window provably runs over a
    * profile-bounded table — a distinct-score/key/calendar/pair
    * profile, never raw facts — so the single partition holds
    * profile-cardinality rows at any data scale. Every other global
    * window is the classic scale-killer (all data through one task)
    * and fails the sweep. */
  val GlobalWindowAllow: Map[String, String] = Map(
    "q301_water_filling" -> "source-grain supply profile (≤ |sources| rows)",
    "q330_growth_accounting" -> "weekly profile lag (≤ |weeks| rows)",
    "q306_cramers_v" -> "densified contingency profile (≤ 25×5 cells)",
    "q273_source_overlap" -> "source-enum index (≤ |sources| rows)",
    "q21_window_analytic" -> "aggregate-fact profile (≤ 192 rows)",
    "q61_range_frame" -> "daily revenue series (calendar-bounded)",
    "q82_funnel" -> "3-row funnel step table",
    "q92_count_min" -> "event_type-grain profile (groupBy event_type; ≤ |event types| rows)",
    "q96_bm25" -> "top-20 TakeOrdered head (orderBy+limit(20) precedes the rank window)",
    "q99_data_mix" -> "source-grain profile (groupBy source; ≤ |sources| rows)",
    "q120_hybrid_rrf" -> "top-k retrieval arm tables (≤ k rows)",
    "q150_temperature_mix" -> "lang-grain profile (groupBy lang; ≤ |languages| rows)",
    "q179_survival_curve" -> "lifetime-week spine (≤ weeks rows)",
    "q235_km_survival" ->
      "lifetime-day spine (≤ observed-span rows): at-risk + KM product",
    "q259_hill_tail" ->
      "top-(k_max+1) TakeOrdered head (≤ 201 rows): order-statistic ranks")

  /** All plan-contract violations for one query's physical plan,
    * INCLUDING subquery inner plans (VERDICT r09 #4): scalar/IN/EXISTS
    * subquery expressions at the `sparkPlan` stage still hold their
    * (optimized) LOGICAL inner plans — physical planning of the outer
    * does not plan them — so each one is planned here and recursed
    * into with the same allow-lists. */
  def violations(name: String, df: DataFrame): Seq[String] =
    planViolations(name, df.queryExecution.sparkPlan,
      df.sparkSession, depth = 0)

  private def planViolations(name: String, plan: SparkPlan,
      spark: org.apache.spark.sql.SparkSession, depth: Int): Seq[String] = {
    // every rule collects over the STAGE-EXPANDED tree set, so an
    // executed adaptive plan (QueryStage/ReusedExchange leaves) is
    // walked identically to a fresh one
    val plans = expanded(plan)
    def collectAll[A](f: PartialFunction[SparkPlan, A]): Seq[A] =
      plans.flatMap(_.collect(f))
    val carts = collectAll { case c: CartesianProductExec => c }
      .map(_ => s"$name: CartesianProduct in physical plan")
    val gw = collectAll {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w
    }.flatMap { _ =>
      if (GlobalWindowAllow.contains(name)) {
        usedWindowGrants.add(name); None
      } else Some(
        s"$name: GLOBAL window (empty partitionSpec) — all rows " +
          "through one task; not a documented profile-bounded window")
    }
    val bnlj = collectAll {
      case j: BroadcastNestedLoopJoinExec => j
    }.flatMap { j =>
      val build = j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
      if (tinyBuild(build)) None
      else if (BnljAllow.contains(name)) {
        usedGrants.add(name); None
      } else Some(
        s"$name: BroadcastNestedLoopJoin with unbounded build " +
          s"side (${build.nodeName}); not provably tiny, not allow-listed")
    }
    // recurse into DfCache'd subtrees (VERDICT r10 #2): an
    // InMemoryTableScan is a LEAF whose cached plan used to hide
    // BNLJ/window shapes from the walk — q224's old brute-pool BNLJ
    // lived exactly there. Same allow-lists, same depth guard.
    val cached =
      if (depth >= 3) Nil
      else collectAll {
        case im: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => im.relation.cachedPlan
      }.flatMap { cp =>
        planViolations(name, unwrapAqe(cp), spark, depth + 1)
      }
    // recurse into subquery inner plans (depth-capped as a loop guard;
    // registered queries nest at most one level of scalar subqueries)
    val subs =
      if (depth >= 3) Nil
      else plans.flatMap(_.flatMap { node =>
        node.expressions.flatMap(_.collect {
          case pe: org.apache.spark.sql.catalyst.expressions
              .PlanExpression[_] => pe.plan
        })
      }).collect {
        case lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => lp
      }.flatMap { lp =>
        try planViolations(name,
          spark.sessionState.executePlan(lp).sparkPlan, spark, depth + 1)
        catch { case scala.util.control.NonFatal(e) => Seq(
          s"$name: subquery inner plan could not be walked: ${e.getMessage}")
        }
      }
    carts ++ gw ++ bnlj ++ plans.flatMap(p => unpushedScans(name, p)) ++
      cached ++ subs
  }

  /** Allow-list entries actually exercised during a sweep — lets the
    * spec flag grants that are no longer needed. Plan shapes depend on
    * session cache state (a cached codebook shows as
    * InMemoryTableScan, an uncached one as a provably-tiny aggregate),
    * so staleness is only meaningful across the SAME sweep that
    * checked the violations. */
  val usedGrants = scala.collection.mutable.Set.empty[String]
  val usedWindowGrants = scala.collection.mutable.Set.empty[String]

  /** Pushable-shaped scan predicates that failed source translation. */
  def unpushedScans(name: String, plan: SparkPlan): Seq[String] =
    plan.collect { case s: FileSourceScanExec =>
      s.dataFilters.filter(pushableShape).filter { f =>
        GraftFilterTranslator.translate(f).isEmpty
      }.map { f =>
        s"$name: pushable-shaped predicate did not translate into the " +
          s"parquet reader: $f"
      }
    }.flatten
}

class PlanContractSpec extends SparkTestBase {

  test("all registered queries satisfy the physical-plan contract " +
      "(no cartesian, no unbounded nested-loop join, simple predicates " +
      "pushed)") {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val failures = all.flatMap { case (name, fn) =>
      try PlanContract.violations(name, fn(spark, sf))
      catch { case e: Throwable =>
        Seq(s"$name: plan construction failed: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} plan-contract violations:\n" +
        failures.mkString("\n"))
  }

  test("every BnljAllow entry was exercised by the sweep (no stale " +
      "grants)") {
    // only meaningful right after the full-sweep test above (plan
    // shapes depend on the session cache state it established)
    assume(PlanContract.usedGrants.nonEmpty, "full sweep did not run")
    val stale = PlanContract.BnljAllow.keySet -- PlanContract.usedGrants
    assert(stale.isEmpty,
      s"allow-list entries no longer needed (tighten the contract): " +
        s"${stale.mkString(", ")}")
    val staleW = PlanContract.GlobalWindowAllow.keySet --
      PlanContract.usedWindowGrants
    assert(staleW.isEmpty,
      s"global-window grants no longer needed: ${staleW.mkString(", ")}")
  }

  test("the contract goes red on a deliberately induced cartesian " +
      "(checker is live, not vacuous)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // force a genuine CartesianProductExec: cross join with broadcast
    // disabled so the planner cannot fall back to a BNLJ
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bad = docs.crossJoin(docs.select(col("doc_id").as("d2")))
      val v = PlanContract.violations("induced", bad)
      assert(v.exists(_.contains("CartesianProduct")),
        s"checker missed an induced cartesian; got: $v")
    }
  }

  test("the contract goes red on a cartesian hidden inside a scalar " +
      "subquery (the walk recurses into inner plans)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.createOrReplaceTempView("pc_docs")
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bad = spark.sql(
        """SELECT doc_id,
          |  (SELECT count(*) FROM pc_docs a CROSS JOIN pc_docs b) AS n
          |FROM pc_docs""".stripMargin)
      val v = PlanContract.violations("induced_subquery", bad)
      assert(v.exists(_.contains("CartesianProduct")),
        s"checker missed a cartesian inside a scalar subquery; got: $v")
    }
  }

  test("the contract goes red on a cartesian hidden behind .cache() " +
      "(the walk recurses into InMemoryRelation subtrees)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val cachedBad = docs.crossJoin(docs.select(col("doc_id").as("d2")))
        .cache()
      try {
        val onTop = cachedBad.groupBy("d2").count()
        val v = PlanContract.violations("induced_cached", onTop)
        assert(v.exists(_.contains("CartesianProduct")),
          s"checker missed a cartesian inside a cached relation; got: $v")
      } finally cachedBad.unpersist(blocking = true)
    }
  }

  test("the contract goes red on a data×data nested-loop join") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val bad = docs.crossJoin(
      broadcast(docs.select(col("doc_id").as("d2"))))
    val v = PlanContract.violations("induced_bnlj", bad)
    assert(v.exists(_.contains("BroadcastNestedLoopJoin")),
      s"checker missed a fact-build nested loop; got: $v")
  }

  test("the contract goes red on a simple predicate that cannot " +
      "translate into the reader") {
    import org.apache.spark.sql.catalyst.expressions.{Add, EqualTo, Literal}
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val healthy = emb.filter(col("vec_id") === 17L)
      .queryExecution.sparkPlan
    // sanity in both directions on the real plan first
    assert(PlanContract.unpushedScans("healthy", healthy).isEmpty,
      "a translating predicate must not be flagged")
    val scan = healthy.collect {
      case s: FileSourceScanExec => s
    }.head
    val attr = scan.output.find(_.name == "vec_id").get
    // pushable SHAPE (bare atomic attribute vs foldable expression)
    // that the source translator rejects (it requires a bare Literal)
    // — the seam every real translation failure goes through
    val crafted = scan.copy(dataFilters =
      Seq(EqualTo(attr, Add(Literal(1L), Literal(16L)))))
    val reported = PlanContract.unpushedScans("induced_unpushed", crafted)
    assert(reported.exists(_.contains("did not translate")),
      s"checker missed an untranslated pushable predicate; got: $reported")
  }

  test("the contract goes red on a global window over a fact table") {
    val ev = graft.sources.Tables.events(spark, sf)
    val bad = ev.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("event_id")))
    val v = PlanContract.violations("induced_global_window", bad)
    assert(v.exists(_.contains("GLOBAL window")),
      s"checker missed a global fact window; got: $v")
  }

  test("scalar broadcast crossJoins stay allowed (tinyBuild proof)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val scalar = docs.agg(count(lit(1)).as("n"))
    val ok = docs.crossJoin(broadcast(scalar))
    assert(PlanContract.violations("scalar_cross", ok).isEmpty)
  }

  private def withSqlConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
