package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] round-12 breadth: Dirichlet-smoothed query-likelihood
  * retrieval (q374), a mergeable log-bucket quantile sketch with a
  * real merge-parity proof (q375), a compaction planner on the
  * distributed prefix-sum primitive (q376), a selectivity-ordered
  * join-order advisor (q377), small-cell suppression with one-round
  * complementary protection (q378), a retention-policy sweep (q379),
  * and the incremental day-prefix quantile trajectory built by
  * operational sketch merges (q380). */
object Breadth10 {

  /** q374 Dirichlet pseudo-count μ (declared smoothing policy). */
  private[graft] val QlMu = 100L

  /** q374 — QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing
    * (Zhai & Lafferty; see PAPERS.md): score(d) = Σ_w∈Q ln((tf_{w,d}
    * + μ·ctf_w/T) / (dl_d + μ)) — the language-modeling complement of
    * q96's BM25 (tf-saturation heuristic) and q111's per-doc
    * surprisal (no query): EVERY document scores, absent terms paying
    * the collection-probability floor, which is what makes LM
    * retrieval robust for short queries. Query = the corpus's top-3
    * terms by (df DESC, word), the q96 data-derived convention.
    *
    * Exactness: each per-term log is ln of a single division of exact
    * BIGINTs ((tf·T + μ·ctf) / ((dl+μ)·T)), micro-quantized to BIGINT
    * per term BEFORE the per-doc sum (the q169/q198 fold discipline —
    * no float ever crosses rows), with the parenthesization mirrored
    * verbatim in the oracle.
    *
    * Scale shape: the per-(doc, term) frame is |docs|·|Q| rows built
    * from one doc-length profile × a broadcast 3-row query table,
    * left-joined to the query terms' postings (a term-keyed slice of
    * the cached [[TextOps.termFreqs]] table); global top-20 via
    * TakeOrderedAndProject, rank over the 20 survivors via
    * [[DistributedRank.withGlobalRank]] (plan stays window-free). */
  def q374QueryLikelihood(spark: SparkSession, dir: String): DataFrame = {
    val tf = TextOps.termFreqs(spark, dir)
    val docLen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val ctf = tf.groupBy("word").agg(sum(col("tf")).as("ctf"))
    val totals = ctf.agg(sum(col("ctf")).as("t_tokens"))
    val qterms = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("word")).limit(3)
      .join(ctf, Seq("word")).select("word", "ctf")
    val matched = tf.join(broadcast(qterms.select("word")), Seq("word"))
    val scored = docLen.crossJoin(broadcast(qterms))
      .join(matched, Seq("doc_id", "word"), "left")
      .na.fill(0L, Seq("tf"))
      .crossJoin(broadcast(totals))
      .withColumn("s_micro", expr(
        s"""cast(round(ln(cast(tf * t_tokens + $QlMu * ctf as double)
           |  / cast((dl + $QlMu) * t_tokens as double)) * 1e6, 0)
           |as bigint)""".stripMargin))
      .groupBy("doc_id")
      .agg(sum(col("s_micro")).as("score_micro"),
        sum(col("tf")).as("n_matched_tokens"))
    val top = scored.orderBy(desc("score_micro"), asc("doc_id")).limit(20)
    DistributedRank.withGlobalRank(top, "rank_l",
        desc("score_micro"), asc("doc_id"))
      .select(col("rank_l").cast("int").as("rank"), col("doc_id"),
        round(col("score_micro").cast("double") / 1e6, 6).as("ql_score"),
        col("n_matched_tokens"))
      .orderBy("rank")
  }

  /** q375 sketch growth factor γ = 2^(1/8) and its derived boundary
    * ladder (BIGINT cents, strictly increasing, covering 1 cent to
    * 2^24 cents): b_i = rint(γ^i) dedup'd. Computed ONCE here and
    * shipped to BOTH engines as the same literals (the q268 cos6
    * discipline — never let two libms evaluate pow independently). */
  private[graft] val DdGamma = math.pow(2.0, 0.125)
  private[graft] val DdBounds: Seq[Long] =
    Iterator.iterate(1.0)(_ * DdGamma).map(math.rint(_).toLong)
      .takeWhile(_ <= (1L << 24)).toSeq.distinct
  /** Guaranteed relative error α = (γ−1)/(γ+1) of a γ-log-bucket
    * sketch (DDSketch, Masson et al.; see PAPERS.md) — the bound the
    * GEOMETRIC-MIDPOINT estimator 2·b/(γ+1) attains (the upper
    * boundary alone is only within γ−1). [[DdMids]] pins the midpoint
    * ladder as literals alongside the boundaries; integer rounding of
    * a midpoint adds ≤ 0.5 cents of absolute slack. */
  private[graft] val DdAlpha = (DdGamma - 1.0) / (DdGamma + 1.0)
  private[graft] val DdMids: Seq[Long] =
    DdBounds.map(b => math.rint(2.0 * b / (DdGamma + 1.0)).toLong)
  private[graft] val DdPerMille = Seq(500, 950, 990)

  /** Octave decomposition of the boundary ladder for O(8) bucketing:
    * `bucket(c) = #{b < c}` splits into a pinned per-octave prefix
    * count plus a comparison against only the (≤8) boundaries inside
    * c's power-of-two octave k = bitlen(c) − 1. Turns the per-row
    * cost from |ladder| (~176) lambda compares into 8 — measured
    * 7.8× → linear at 10× facts. */
  private[graft] val DdOctaveBase: Seq[Int] =
    (0 to 24).map(k => DdBounds.count(_ < (1L << k)))
  private[graft] val DdOctaveBounds: Seq[Seq[Long]] =
    (0 to 24).map(k =>
      DdBounds.filter(b => b >= (1L << k) && b < (1L << (k + 1))))

  /** Octave-decomposed bucket of the BIGINT `cents` column against the
    * pinned [[DdBounds]] ladder: octave k via exact bit length (bin()
    * string — never log2's libm), then a ≤8-compare strict-< count
    * within the k-th octave's boundary slice — O(8) vs the naive
    * 176-compare full-ladder filter (measured 4.8s → 37.4s at sf0.1
    * when tried). Inputs are clamped into the ladder's domain
    * (cents < 0 → 0, octave k capped at 24) so out-of-ladder values
    * degrade to the boundary buckets EXACTLY like the oracle's
    * strict-< count over the full list (bucket 0 below, |ladder|
    * above) instead of a NULL element_at past the 25-entry octave
    * tables (ADVICE r12). This corpus has cents ≥ 0 < 2^25, so the
    * clamp is inert here — it pins the cross-engine contract if the
    * data contract ever loosens. */
  private def withDdBucket(df: DataFrame): DataFrame =
    df.withColumn("c_clamped", greatest(col("cents"), lit(0L)))
      .withColumn("k", least(
        (length(expr("bin(c_clamped)")) - 1).cast("int"), lit(24)))
      .withColumn("bucket",
        element_at(typedLit(DdOctaveBase), col("k") + 1) +
          size(filter(element_at(typedLit(DdOctaveBounds), col("k") + 1),
            b => b < col("c_clamped"))))
      .drop("c_clamped", "k")

  /** q375 — MERGEABLE LOG-BUCKET QUANTILE SKETCH (DDSketch-style)
    * over event value cents per type: bucket(c) = #{boundaries < c}
    * (exact integer compares against the pinned [[DdBounds]] ladder),
    * per-(type, bucket) counts, and the p50/p95/p99 estimates read
    * from the cumulative bucket histogram with the q373 ceil-rank
    * rule — each estimate is the bucket's pinned geometric midpoint
    * ([[DdMids]]), within the declared relative error α of the true
    * quantile. The 100 TB
    * contrast with q373's EXACT ladder: the sketch is a fixed
    * ≤|ladder|-row state per group, mergeable by count addition —
    * the shape a streaming/partitioned aggregator keeps when a global
    * ordinal pass is too expensive. `merge_lossless` PROVES the merge
    * operation on this data: the sketch is built twice — once over
    * all events, once as two independent half-sketches (event_id
    * parity) merged by summing counts — and the two bucket tables
    * must agree exactly (data-deterministic: exact integer counts,
    * no physical dependence — see docs/DETERMINISM.md). */
  def q375DdsketchQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = withDdBucket(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        pmod(col("event_id"), lit(2L)).as("half")))
    val direct = ev.groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
    val mergedHalves = ev.groupBy("event_type", "bucket", "half")
      .agg(count(lit(1)).as("hn"))
      .groupBy("event_type", "bucket")
      .agg(sum(col("hn")).as("n_merged"))
    val mergeOk = direct.join(mergedHalves,
        Seq("event_type", "bucket"), "full_outer")
      .groupBy("event_type")
      .agg(expr("bool_and(coalesce(n, -1L) = coalesce(n_merged, -2L))")
        .as("merge_lossless"))
    val wCum = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = direct.withColumn("cum", sum(col("n")).over(wCum))
    val totals = direct.groupBy("event_type")
      .agg(sum(col("n")).as("n_total"))
    cum.join(totals, Seq("event_type"))
      .select(col("event_type"), col("bucket"), col("n"), col("cum"),
        col("n_total"),
        explode(typedLit(DdPerMille)).as("per_mille"))
      .withColumn("target", expr("(per_mille * n_total + 999) div 1000"))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("n") < col("target"))
      .join(mergeOk, Seq("event_type"))
      .select(col("event_type"), col("per_mille"), col("bucket"),
        element_at(typedLit(DdMids), col("bucket") + 1).as("est_cents"),
        round(element_at(typedLit(DdMids), col("bucket") + 1)
          .cast("double") / 100.0, 2).as("est_dollars"),
        col("n_total"),
        round(lit(DdAlpha), 6).as("rel_err_bound"),
        col("merge_lossless"))
      .orderBy("event_type", "per_mille")
  }

  /** q376 packing target (1 MiB planning unit — small enough that the
    * synthetic SFs produce multi-bin plans; at production scale the
    * same pipeline runs with a 128 MiB target) and the declared
    * per-row byte estimate. */
  private[graft] val CompactTargetBytes = 1L << 20
  private[graft] val CompactRowBytes = 128L

  /** q376 — COMPACTION PLANNER: pack per-ship-day ingest volumes
    * (rows × declared row width) into [[CompactTargetBytes]]-target
    * output files by SIZE-DESCENDING sequential packing — sort days
    * by estimated bytes desc, take the distributed running total
    * ([[DistributedRank.withRunningTotal]] — per-partition prefix
    * sums, #partitions driver scalars), and cut a new bin every time
    * the running total crosses a target boundary (bin = start-offset
    * div target). The small-files problem this plans away is the
    * canonical 100 TB ingest pathology (q199's manifest SHOWS the
    * fragmentation; this emits the repack plan); descending order
    * packs the heavy days first so only the tail bins mix many small
    * days. Deterministic: sizes are exact integers, ties break by
    * day; bins can overflow a target by less than one day's bytes
    * (documented NFD-style contiguous packing, not bin-perfect FFD —
    * the single-sorted-pass plan a distributed compactor actually
    * executes). */
  def q376CompactionPlanner(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg((count(lit(1)) * CompactRowBytes).as("est_bytes"))
    DistributedRank.withRunningTotal(daily, "est_bytes", "cum",
        desc("est_bytes"), asc("day"))
      .withColumn("bin",
        expr(s"(cum - est_bytes) div $CompactTargetBytes"))
      .groupBy("bin")
      // the bin's first-packed row (bytes-desc order) is its heaviest
      // day, and packing order = running-total order, so the row with
      // the bin's smallest cum is the heaviest (cum strictly increases:
      // est_bytes ≥ CompactRowBytes > 0) — min_by over a scalar both
      // engines share (ADVICE r12: min(day) was the EARLIEST day)
      .agg(count(lit(1)).as("n_days"), sum(col("est_bytes")).as("bytes"),
        min_by(col("day"), col("cum")).as("heaviest_day"))
      .select(col("bin"), col("n_days"), col("bytes"),
        round(col("bytes").cast("double") / CompactTargetBytes, 6)
          .as("fill_ratio"),
        col("heaviest_day"))
      .orderBy("bin")
  }

  /** q377 declared dimension filters (pinned advisor inputs). */
  private[graft] val AdvisorPartMaxSize = 15
  private[graft] val AdvisorSuppMaxNation = 11
  private[graft] val AdvisorOrderPriority = "1-URGENT"

  /** q377 — JOIN-ORDER ADVISOR: for a star query over lineitem with
    * declared filters on part / supplier / orders, measure each
    * dimension's exact filter selectivity and emit the
    * most-selective-first join order with the estimated fact
    * cardinality after each join prefix (independence assumption —
    * the System-R heuristic Catalyst's cost-based reorder implements;
    * this makes the estimate INSPECTABLE next to the true final
    * cardinality, which is the advisor's calibration column). The
    * estimate folds left-to-right in doubles with the multiplication
    * order pinned by position and mirrored verbatim in the oracle;
    * selectivities order by exact integer ppm with a name tie-break.
    *
    * Scale shape: three dimension-profile aggregates (1 row each), a
    * 3-row collect fold, and ONE real filtered star join for the
    * calibration count — dimension filters push to the dim scans and
    * the joins broadcast the filtered dims. */
  def q377JoinOrderAdvisor(spark: SparkSession, dir: String): DataFrame = {
    def profile(name: String, df: DataFrame,
        pred: org.apache.spark.sql.Column): DataFrame =
      df.agg(lit(name).as("dim_name"), count(lit(1)).as("dim_rows"),
        sum(when(pred, 1L).otherwise(0L)).as("dim_filtered"))
    val prof =
      profile("part", Tables.part(spark, dir),
          col("p_size") <= AdvisorPartMaxSize)
        .unionByName(profile("supplier", Tables.supplier(spark, dir),
          col("s_nationkey") <= AdvisorSuppMaxNation))
        .unionByName(profile("orders", Tables.orders(spark, dir),
          col("o_orderpriority") === AdvisorOrderPriority))
        .withColumn("sel_ppm",
          expr("dim_filtered * 1000000L div dim_rows"))
    val nFact = Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n_fact"))
    val actual = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir)
          .filter(col("p_size") <= AdvisorPartMaxSize),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir)
          .filter(col("s_nationkey") <= AdvisorSuppMaxNation),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === AdvisorOrderPriority),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("actual_final_rows"))
    prof
      .agg(expr("array_sort(collect_list(struct(sel_ppm, dim_name, " +
        "dim_rows, dim_filtered)))").as("a"))
      .crossJoin(broadcast(nFact))
      .crossJoin(broadcast(actual))
      .select(col("n_fact"), col("actual_final_rows"), expr(
        """inline(transform(a, (s, i) -> struct(
          |  cast(i + 1 as int) AS position, s.dim_name AS dim_name,
          |  s.dim_rows AS dim_rows, s.dim_filtered AS dim_filtered,
          |  s.sel_ppm AS sel_ppm,
          |  round(aggregate(slice(a, 1, i + 1), cast(n_fact as double),
          |    (acc, t) -> acc * (cast(t.dim_filtered as double)
          |                       / cast(t.dim_rows as double))), 2)
          |    AS est_rows_after)))""".stripMargin))
      .select(col("position"), col("dim_name"), col("dim_rows"),
        col("dim_filtered"), col("sel_ppm"), col("est_rows_after"),
        col("actual_final_rows"))
      .orderBy("position")
  }

  /** q378 small-cell threshold (the statistical-disclosure "rule of
    * five") . */
  private[graft] val SuppressK = 5L

  /** q378 — SMALL-CELL SUPPRESSION with one-round complementary
    * protection: the (nation × segment) purchasing-customer/revenue
    * table is published with PRIMARY suppression of cells under
    * [[SuppressK]] customers, then — because row and column totals
    * are published too — any line left with EXACTLY ONE suppressed
    * cell gets its smallest unsuppressed cell suppressed as a
    * COMPLEMENT (rows first, then columns; a single declared round,
    * deterministic (n, key) pick — the greedy a disclosure-control
    * office actually runs, not the NP-hard exact audit). Extends
    * q216's k-anonymity (which grades the quasi-id classes) to the
    * RELEASE side: what a safe publication of this table looks like.
    *
    * Scale shape: one fact fold to the ≤ |nations|·|segments| cell
    * profile; both passes are windows PARTITIONED by an enum key. */
  def q378CellSuppression(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("n_name").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(countDistinct(col("c_custkey")).as("n_custs"),
        sum(expr("cast(round(o_totalprice * 100, 0) as bigint)"))
          .as("cents"))
      .withColumn("primary_sup", col("n_custs") < SuppressK)
    val wRow = Window.partitionBy("nation")
    val wRowPick = Window.partitionBy("nation")
      .orderBy(col("n_custs").asc, col("segment").asc)
    val afterRow = cells
      .withColumn("row_primaries",
        sum(col("primary_sup").cast("long")).over(wRow))
      .withColumn("row_pick", row_number().over(wRowPick) ===
        sum(when(col("primary_sup"), 1L).otherwise(0L)).over(wRowPick)
          + 1L)
      .withColumn("row_comp", !col("primary_sup") &&
        col("row_primaries") === 1L && col("row_pick"))
      .drop("row_primaries", "row_pick")
    val wCol = Window.partitionBy("segment")
    val wColPick = Window.partitionBy("segment")
      .orderBy(col("n_custs").asc, col("nation").asc)
    val sup = col("primary_sup") || col("row_comp")
    afterRow
      .withColumn("col_suppressed", sum(sup.cast("long")).over(wCol))
      .withColumn("col_pick", row_number().over(wColPick) ===
        sum(when(sup, 1L).otherwise(0L)).over(wColPick) + 1L)
      .withColumn("col_comp", !sup &&
        col("col_suppressed") === 1L && col("col_pick"))
      .select(col("nation"), col("segment"), col("n_custs"),
        when(col("primary_sup"), "primary")
          .when(col("row_comp"), "row_complement")
          .when(col("col_comp"), "col_complement")
          .otherwise("none").as("suppression"),
        when(col("primary_sup") || col("row_comp") || col("col_comp"),
          lit(null).cast("double"))
          .otherwise(round(col("cents").cast("double") / 100.0, 2))
          .as("published_dollars"))
      .orderBy("nation", "segment")
  }

  /** q379 retention horizon (days — declared policy). */
  private[graft] val RetentionDays = 365

  /** q379 — RETENTION-POLICY SWEEP: per event type, the events older
    * than [[RetentionDays]] before the corpus's latest timestamp —
    * count, share, and estimated reclaim bytes (declared row width) —
    * the age-based deletion worklist that complements q215/q361's
    * subject-keyed erasure (GDPR storage-limitation vs
    * right-to-erasure are different sweeps). Exact integer date
    * arithmetic; one enum-sized fold of the scan. */
  def q379RetentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
    val cutoff = broadcast(ev.agg(
      date_sub(max(col("d")), RetentionDays).as("cutoff")))
    ev.crossJoin(cutoff)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("d") < col("cutoff"), 1L).otherwise(0L))
          .as("n_expired"),
        max(col("cutoff")).as("cutoff"))
      .select(col("event_type"), col("n_events"), col("n_expired"),
        round(col("n_expired").cast("double") / col("n_events"), 6)
          .as("expired_share"),
        (col("n_expired") * 64L).as("est_reclaim_bytes"),
        col("cutoff"))
      .orderBy("event_type")
  }

  /** q380 trajectory per-mille point (p95). */
  private[graft] val TrajPerMille = 950L

  /** q380 — INCREMENTAL QUANTILE TRAJECTORY: the p95 of event value
    * over every DAY-PREFIX of the stream, computed by MERGING the
    * per-day DDSketch bucket histograms (count addition — the
    * mergeability q375 proves once, exercised here as |days|
    * operational prefix merges; the batch companion of the
    * `runningDdsketch` streaming twin, the q226 incremental-KMV
    * pattern applied to quantiles). This is the dashboard "has the
    * tail moved?" readout a 100 TB pipeline keeps WITHOUT any
    * re-scan: day d's sketch is yesterday's state plus one day-sized
    * delta.
    *
    * Exactness: bucketing is the q375 octave rule (exact integer
    * compares against the pinned ladder); prefix merges are exact
    * count additions via a bucket-partitioned cumulative window
    * (partitions bounded by the month count); the read-off is the
    * q373 ceil-rank rule on each month's merged histogram. */
  def q380QuantileTrajectory(spark: SparkSession, dir: String): DataFrame = {
    val daily = withDdBucket(Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents")))
      .groupBy("day", "bucket").agg(count(lit(1)).as("n"))
    // prefix-merge: cumulative count per bucket over days
    val wMerge = Window.partitionBy("bucket").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = daily
      // densify: every bucket must appear in every day ≥ its first
      // occurrence for the cumulative to carry — join the observed
      // bucket set to the observed day spine and zero-fill
      .select(col("day")).distinct()
      .crossJoin(broadcast(daily.select(col("bucket")).distinct()))
      .join(daily, Seq("day", "bucket"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("cum_n", sum(col("n")).over(wMerge))
      .filter(col("cum_n") > 0)
    val wRead = Window.partitionBy("day").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("run", sum(col("cum_n")).over(wRead))
      .withColumn("n_cum", sum(col("cum_n")).over(
        Window.partitionBy("day")))
      .withColumn("target",
        expr(s"($TrajPerMille * n_cum + 999) div 1000"))
      .filter(col("run") >= col("target") &&
        col("run") - col("cum_n") < col("target"))
      .select(col("day"), col("n_cum"), col("bucket"),
        element_at(typedLit(DdMids), col("bucket") + 1).as("p95_cents"),
        round(element_at(typedLit(DdMids), col("bucket") + 1)
          .cast("double") / 100.0, 2).as("p95_dollars"))
      .orderBy("day")
  }

  /** q381 sampling modulus (deterministic 1-in-64 row sample). */
  private[graft] val CardSampleMod = 64L

  /** q381 — SAMPLING-BASED JOIN-CARDINALITY CALIBRATION: estimate
    * |lineitem ⋈ filtered-dim| from a DETERMINISTIC 1-in-
    * [[CardSampleMod]] hash sample of the fact rows (md5 of the line
    * key — reproducible under any partitioning, the q68/q97
    * never-rand() rule) and report it NEXT TO the true count for each
    * of three join shapes (part filter, supplier filter, both). The
    * empirical companion of q377's independence MODEL: q377 says what
    * a System-R estimator would guess, this measures what a
    * sample-based estimator (the other standard CBO input) actually
    * achieves on this data — rel_err is the calibration column.
    *
    * Scale shape: the sample arm scans once and joins broadcast
    * filtered dims (sample size n/64 keeps the estimate cheap at any
    * corpus size); the actual arm is the same broadcast join
    * unsampled. All counts exact BIGINTs; rel_err is one mirrored
    * division. */
  def q381SampleCardinality(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val sampled = li.filter(pmod(Hashing.md5Hash60(
      concat(lit("cardsample:"), col("l_orderkey").cast("string"),
        lit(":"), col("l_linenumber").cast("string"))),
      lit(CardSampleMod)) === 0L)
    val partF = Tables.part(spark, dir)
      .filter(col("p_size") <= AdvisorPartMaxSize).select("p_partkey")
    val suppF = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") <= AdvisorSuppMaxNation)
      .select("s_suppkey")
    def joined(base: DataFrame, withPart: Boolean,
        withSupp: Boolean): DataFrame = {
      val p = if (withPart) base.join(broadcast(partF),
        col("l_partkey") === col("p_partkey")) else base
      if (withSupp) p.join(broadcast(suppF),
        col("l_suppkey") === col("s_suppkey")) else p
    }
    def armRow(name: String, wp: Boolean, ws: Boolean): DataFrame =
      joined(sampled, wp, ws).agg(count(lit(1)).as("sample_n"))
        .crossJoin(broadcast(
          joined(li, wp, ws).agg(count(lit(1)).as("actual_rows"))))
        .select(lit(name).as("join_name"), col("sample_n"),
          (col("sample_n") * CardSampleMod).as("est_rows"),
          col("actual_rows"),
          round(((col("sample_n") * CardSampleMod).cast("double") -
            col("actual_rows")) / col("actual_rows"), 6).as("rel_err"))
    armRow("part_and_supplier", wp = true, ws = true)
      .unionByName(armRow("part_filter", wp = true, ws = false))
      .unionByName(armRow("supplier_filter", wp = false, ws = true))
      .orderBy("join_name")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q381_sample_cardinality", q381SampleCardinality _,
      s"""WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |  FROM lineitem),
        |s AS (
        |  SELECT * FROM li
        |  WHERE ('0x' || substr(md5('cardsample:'
        |          || CAST(l_orderkey AS VARCHAR) || ':'
        |          || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
        |        % $CardSampleMod = 0),
        |pf AS (SELECT p_partkey FROM part
        |       WHERE p_size <= $AdvisorPartMaxSize),
        |sf AS (SELECT s_suppkey FROM supplier
        |       WHERE s_nationkey <= $AdvisorSuppMaxNation),
        |arms AS (
        |  SELECT 'part_and_supplier' AS join_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM s
        |     JOIN pf ON l_partkey = p_partkey
        |     JOIN sf ON l_suppkey = s_suppkey) AS sample_n,
        |    (SELECT CAST(count(*) AS BIGINT) FROM li
        |     JOIN pf ON l_partkey = p_partkey
        |     JOIN sf ON l_suppkey = s_suppkey) AS actual_rows
        |  UNION ALL
        |  SELECT 'part_filter',
        |    (SELECT CAST(count(*) AS BIGINT) FROM s
        |     JOIN pf ON l_partkey = p_partkey),
        |    (SELECT CAST(count(*) AS BIGINT) FROM li
        |     JOIN pf ON l_partkey = p_partkey)
        |  UNION ALL
        |  SELECT 'supplier_filter',
        |    (SELECT CAST(count(*) AS BIGINT) FROM s
        |     JOIN sf ON l_suppkey = s_suppkey),
        |    (SELECT CAST(count(*) AS BIGINT) FROM li
        |     JOIN sf ON l_suppkey = s_suppkey))
        |SELECT join_name, sample_n,
        |       CAST(sample_n * $CardSampleMod AS BIGINT) AS est_rows,
        |       actual_rows,
        |       round((CAST(sample_n * $CardSampleMod AS DOUBLE)
        |              - actual_rows) / actual_rows, 6) AS rel_err
        |FROM arms ORDER BY join_name""".stripMargin),
    QueryDef("q380_quantile_trajectory", q380QuantileTrajectory _,
      {
      val lst = DdBounds.mkString("[", ", ", "]")
      val mids = DdMids.mkString("[", ", ", "]")
      s"""WITH ev AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |bk AS (
        |  SELECT day,
        |         CAST(len(list_filter($lst, b -> b < cents))
        |              AS INTEGER) AS bucket
        |  FROM ev),
        |daily AS (SELECT day, bucket,
        |                 CAST(count(*) AS BIGINT) AS n
        |          FROM bk GROUP BY 1, 2),
        |dense AS (
        |  SELECT m.day, b.bucket, coalesce(x.n, 0) AS n
        |  FROM (SELECT DISTINCT day FROM daily) m
        |  CROSS JOIN (SELECT DISTINCT bucket FROM daily) b
        |  LEFT JOIN daily x
        |    ON x.day = m.day AND x.bucket = b.bucket),
        |merged AS (
        |  SELECT day, bucket,
        |         CAST(sum(n) OVER (PARTITION BY bucket ORDER BY day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
        |  FROM dense),
        |nz AS (SELECT * FROM merged WHERE cum_n > 0),
        |readoff AS (
        |  SELECT day, bucket, cum_n,
        |         CAST(sum(cum_n) OVER (PARTITION BY day
        |           ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS run,
        |         CAST(sum(cum_n) OVER (PARTITION BY day)
        |              AS BIGINT) AS n_cum
        |  FROM nz)
        |SELECT day, n_cum, bucket,
        |       CAST(($mids)[bucket + 1] AS BIGINT) AS p95_cents,
        |       round(CAST(($mids)[bucket + 1] AS DOUBLE) / 100.0, 2)
        |         AS p95_dollars
        |FROM readoff
        |WHERE run >= ($TrajPerMille * n_cum + 999) // 1000
        |  AND run - cum_n < ($TrajPerMille * n_cum + 999) // 1000
        |ORDER BY day""".stripMargin
    }),
    QueryDef("q374_query_likelihood", q374QueryLikelihood _,
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY 1),
        |ctf AS (SELECT word, CAST(sum(tf) AS BIGINT) AS ctf
        |        FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_tokens FROM ctf),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY 1),
        |q AS (SELECT d.word, c.ctf FROM dfq d JOIN ctf c USING (word)
        |      ORDER BY d.df DESC, d.word LIMIT 3),
        |scored AS (
        |  SELECT dl.doc_id,
        |         CAST(sum(CAST(round(ln(
        |             CAST(coalesce(m.tf, 0) * t.t_tokens
        |                  + $QlMu * q.ctf AS DOUBLE)
        |             / CAST((dl.dl + $QlMu) * t.t_tokens AS DOUBLE))
        |           * 1e6, 0) AS BIGINT)) AS BIGINT) AS score_micro,
        |         CAST(sum(coalesce(m.tf, 0)) AS BIGINT)
        |           AS n_matched_tokens
        |  FROM dl CROSS JOIN q CROSS JOIN tot t
        |  LEFT JOIN tf m ON m.doc_id = dl.doc_id AND m.word = q.word
        |  GROUP BY 1),
        |top AS (SELECT * FROM scored
        |        ORDER BY score_micro DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
        |            AS INTEGER) AS rank,
        |       doc_id,
        |       round(CAST(score_micro AS DOUBLE) / 1e6, 6) AS ql_score,
        |       n_matched_tokens
        |FROM top ORDER BY rank""".stripMargin),
    QueryDef("q375_ddsketch_quantiles", q375DdsketchQuantiles _,
      {
      val lst = DdBounds.mkString("[", ", ", "]")
      val mids = DdMids.mkString("[", ", ", "]")
      val pm = DdPerMille.mkString("[", ", ", "]")
      val alpha6 = BigDecimal(DdAlpha).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      s"""WITH ev AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         event_id % 2 AS half
        |  FROM events),
        |bk AS (
        |  SELECT event_type, half,
        |         CAST(len(list_filter($lst, b -> b < cents))
        |              AS INTEGER) AS bucket
        |  FROM ev),
        |direct AS (SELECT event_type, bucket,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM bk GROUP BY 1, 2),
        |halves AS (SELECT event_type, bucket, half,
        |                  CAST(count(*) AS BIGINT) AS hn
        |           FROM bk GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, bucket,
        |                  CAST(sum(hn) AS BIGINT) AS n_merged
        |           FROM halves GROUP BY 1, 2),
        |mok AS (SELECT coalesce(d.event_type, m.event_type)
        |                 AS event_type,
        |               bool_and(coalesce(d.n, -1) = coalesce(m.n_merged,
        |                 -2)) AS merge_lossless
        |        FROM direct d FULL JOIN merged m
        |          ON d.event_type = m.event_type AND d.bucket = m.bucket
        |        GROUP BY 1),
        |cum AS (
        |  SELECT event_type, bucket, n,
        |         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY
        |           bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(sum(n) OVER (PARTITION BY event_type)
        |              AS BIGINT) AS n_total
        |  FROM direct),
        |pts AS (
        |  SELECT c.event_type, c.bucket, c.n, c.cum, c.n_total,
        |         unnest($pm) AS per_mille
        |  FROM cum c)
        |SELECT p.event_type, CAST(p.per_mille AS INTEGER) AS per_mille,
        |       p.bucket,
        |       CAST(($mids)[p.bucket + 1] AS BIGINT) AS est_cents,
        |       round(CAST(($mids)[p.bucket + 1] AS DOUBLE) / 100.0, 2)
        |         AS est_dollars,
        |       p.n_total, $alpha6 AS rel_err_bound,
        |       mok.merge_lossless
        |FROM pts p JOIN mok ON mok.event_type = p.event_type
        |WHERE p.cum >= (p.per_mille * p.n_total + 999) // 1000
        |  AND p.cum - p.n < (p.per_mille * p.n_total + 999) // 1000
        |ORDER BY p.event_type, per_mille""".stripMargin
    }),
    QueryDef("q376_compaction_planner", q376CompactionPlanner _,
      s"""WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |         CAST(count(*) * $CompactRowBytes AS BIGINT) AS est_bytes
        |  FROM lineitem GROUP BY 1),
        |packed AS (
        |  SELECT day, est_bytes,
        |         CAST(sum(est_bytes) OVER (ORDER BY est_bytes DESC, day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM daily)
        |SELECT (cum - est_bytes) // $CompactTargetBytes AS bin,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(est_bytes) AS BIGINT) AS bytes,
        |       round(CAST(sum(est_bytes) AS DOUBLE)
        |             / $CompactTargetBytes, 6) AS fill_ratio,
        |       min_by(day, cum) AS heaviest_day
        |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q377_join_order_advisor", q377JoinOrderAdvisor _,
      s"""WITH prof AS (
        |  SELECT 'part' AS dim_name, CAST(count(*) AS BIGINT)
        |           AS dim_rows,
        |         CAST(sum(CASE WHEN p_size <= $AdvisorPartMaxSize
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |           AS dim_filtered
        |  FROM part
        |  UNION ALL
        |  SELECT 'supplier', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN s_nationkey <= $AdvisorSuppMaxNation
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |         CAST(sum(CASE WHEN o_orderpriority =
        |                  '$AdvisorOrderPriority'
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders),
        |ord AS (
        |  SELECT *, dim_filtered * 1000000 // dim_rows AS sel_ppm,
        |         CAST(row_number() OVER (ORDER BY
        |           dim_filtered * 1000000 // dim_rows, dim_name)
        |           AS INTEGER) AS position
        |  FROM prof),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_fact FROM lineitem),
        |act AS (
        |  SELECT CAST(count(*) AS BIGINT) AS actual_final_rows
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |             AND p.p_size <= $AdvisorPartMaxSize
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |               AND s.s_nationkey <= $AdvisorSuppMaxNation
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |             AND o.o_orderpriority = '$AdvisorOrderPriority'),
        |sel AS (
        |  SELECT position,
        |         CAST(dim_filtered AS DOUBLE) / CAST(dim_rows AS DOUBLE)
        |           AS s
        |  FROM ord)
        |SELECT o.position, o.dim_name, o.dim_rows, o.dim_filtered,
        |       CAST(o.sel_ppm AS BIGINT) AS sel_ppm,
        |       round(CASE o.position
        |         WHEN 1 THEN CAST(nf.n_fact AS DOUBLE)
        |           * (SELECT s FROM sel WHERE position = 1)
        |         WHEN 2 THEN (CAST(nf.n_fact AS DOUBLE)
        |           * (SELECT s FROM sel WHERE position = 1))
        |           * (SELECT s FROM sel WHERE position = 2)
        |         ELSE ((CAST(nf.n_fact AS DOUBLE)
        |           * (SELECT s FROM sel WHERE position = 1))
        |           * (SELECT s FROM sel WHERE position = 2))
        |           * (SELECT s FROM sel WHERE position = 3)
        |       END, 2) AS est_rows_after,
        |       act.actual_final_rows
        |FROM ord o CROSS JOIN nf CROSS JOIN act
        |ORDER BY o.position""".stripMargin),
    QueryDef("q378_cell_suppression", q378CellSuppression _,
      s"""WITH cells AS (
        |  SELECT n.n_name AS nation, c.c_mktsegment AS segment,
        |         CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_custs,
        |         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS cents
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2),
        |base AS (SELECT *, n_custs < $SuppressK AS primary_sup
        |         FROM cells),
        |rowp AS (
        |  SELECT *,
        |    sum(CASE WHEN primary_sup THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY nation) AS row_primaries,
        |    row_number() OVER (PARTITION BY nation
        |      ORDER BY n_custs, segment) AS rn,
        |    sum(CASE WHEN primary_sup THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY nation ORDER BY n_custs, segment
        |            ROWS UNBOUNDED PRECEDING) AS pcum
        |  FROM base),
        |afterrow AS (
        |  SELECT nation, segment, n_custs, cents, primary_sup,
        |    (NOT primary_sup) AND row_primaries = 1 AND rn = pcum + 1
        |      AS row_comp
        |  FROM rowp),
        |colp AS (
        |  SELECT *,
        |    sum(CASE WHEN primary_sup OR row_comp THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY segment) AS col_suppressed,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY n_custs, nation) AS cn,
        |    sum(CASE WHEN primary_sup OR row_comp THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY segment ORDER BY n_custs, nation
        |            ROWS UNBOUNDED PRECEDING) AS scum
        |  FROM afterrow),
        |fin AS (
        |  SELECT *, (NOT (primary_sup OR row_comp))
        |        AND col_suppressed = 1 AND cn = scum + 1 AS col_comp
        |  FROM colp)
        |SELECT nation, segment, n_custs,
        |  CASE WHEN primary_sup THEN 'primary'
        |       WHEN row_comp THEN 'row_complement'
        |       WHEN col_comp THEN 'col_complement'
        |       ELSE 'none' END AS suppression,
        |  CASE WHEN primary_sup OR row_comp OR col_comp THEN NULL
        |       ELSE round(CAST(cents AS DOUBLE) / 100.0, 2)
        |  END AS published_dollars
        |FROM fin ORDER BY nation, segment""".stripMargin),
    QueryDef("q379_retention_sweep", q379RetentionSweep _,
      s"""WITH ev AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |cut AS (SELECT max(d) - $RetentionDays AS cutoff FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
        |       round(CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                           THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS expired_share,
        |       CAST(sum(CASE WHEN d < (SELECT cutoff FROM cut)
        |                     THEN 1 ELSE 0 END) * 64 AS BIGINT)
        |         AS est_reclaim_bytes,
        |       (SELECT cutoff FROM cut) AS cutoff
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin))
}
