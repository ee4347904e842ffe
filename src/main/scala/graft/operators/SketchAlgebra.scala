package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] sketch ALGEBRA beyond q100's union rollup: set-intersection
  * estimation by inclusion-exclusion over HLL sketches —
  * |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) — the segment-overlap
  * question ("how many users do these two behaviors share?") answered
  * from the per-segment sketches a pipeline already persists, without
  * ever running the exact distinct-join. At 100 TB that is the whole
  * point: the sketches are KB-sized storable artifacts (q100), the
  * overlap matrix is arithmetic over a |segments|²-row self-join of a
  * tiny table, and the raw event scan happens zero times.
  *
  * Inclusion-exclusion's documented weakness rides along as the
  * contract: the absolute error is driven by the UNION's estimation
  * error, so the relative error blows up when the true overlap is
  * small relative to the segments. The output therefore carries a
  * tolerance verdict per pair (|est − exact| ≤ 15% of exact, floor of
  * 5), and the q52-style contract pattern applies: exact overlap is
  * recomputed here as ground truth at test scale, while a production
  * deployment would trust the sketches precisely because the exact
  * path is what it cannot afford.
  *
  * Also here: the mergeable sketches the algebra runs on: count-min
  * (q92), HLL export and union (q100), top-k frequency (q105), and the
  * log-bucket quantile sketch ([[DdBounds]]) with its per-day
  * trajectory (q375, q380).
  */
object SketchAlgebra {

  /** q153 — HLL intersection matrix over event-type user segments:
    * for every unordered type pair, the inclusion-exclusion overlap
    * estimate next to the exact overlap and the tolerance verdict. */
  def q153HllIntersect(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_type", "user_id")
    val sketches = ev.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
    val pairs = sketches.select(col("event_type").as("type_a"),
        col("sk").as("ska"), col("est").as("esta"))
      .crossJoin(sketches.select(col("event_type").as("type_b"),
        col("sk").as("skb"), col("est").as("estb")))
      .filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        (col("esta") + col("estb") -
          expr("hll_sketch_estimate(hll_union(ska, skb))")).as("est_overlap"))
    // exact ground truth (test-scale contract arm, the q52 pattern):
    // distinct (type, user) once, then the pair join on user
    val tu = ev.distinct()
    val exact = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    pairs.join(exact, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_exact"),
        (abs(col("est_overlap") - col("n_exact")) <=
          greatest(lit(5.0), col("n_exact") * 0.15)).as("within_tol"))
      .orderBy("type_a", "type_b")
  }

  /** KMV sketch size (q217): 64 hashes ⇒ ~1/√62 ≈ 12.7% standard
    * relative error; the sketch is 512 bytes per group. */
  private[graft] val KmvK = 64

  /** 2^60 — the hash space size of [[graft.functions.Hashing.md5Hash60]];
    * exactly representable as a double (power of two). */
  private val HashSpace = 1152921504606846976d

  /** q217 — KMV (bottom-k) distinct sketch per event-type user segment
    * plus a "__all" row built by MERGING the per-type sketches (never
    * re-reading rows) — the deterministic sibling of q100's HLL union
    * rollup. Because the k smallest distinct hashes are a deterministic
    * function of the input SET, the whole output — sketch size, k-th
    * hash, estimate — is oracle-exact, unlike every other sketch in the
    * family (tolerance contracts). Estimator: (k−1)·2^60/h_k for a full
    * sketch; the exact distinct count when fewer than k hashes exist
    * (both branches exercised: types are under k at sf0.001, over at
    * sf0.01+).
    *
    * Scale shape: the aggregator dedups inside its capped k-buffer, so
    * partial aggregation does the heavy lifting map-side — no distinct
    * pre-shuffle; the per-type sketch table is |types| rows × 512
    * bytes, and the union row is arithmetic over those sketches alone.
    * The exact arm (countDistinct) is the test-scale contract the
    * sketch exists to replace at 100 TB. */
  def q217KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BottomKAggregator, Hashing}
    val kmv = udaf(new BottomKAggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val hashed = Tables.events(spark, dir)
      .select(col("event_type"),
        Hashing.md5Hash60(concat(lit("kmv:"), col("user_id"))).as("h"))
    val perType = hashed.groupBy(col("event_type").as("scope"))
      .agg(kmv(col("h")).as("sk"))
    // a global fold over no events still yields one, empty, sketch; the
    // oracle has no scope without a hash, so that row is dropped before
    // `element_at(sk, -1)` can read past its end
    val union = perType.select(explode(col("sk")).as("h"))
      .agg(kmv(col("h")).as("sk"))
      .filter(size(col("sk")) > 0)
      .select(lit("__all").as("scope"), col("sk"))
    val sketches = perType.unionByName(union)
    val exact = hashed.groupBy(col("event_type").as("scope"))
      .agg(countDistinct(col("h")).as("n_exact"))
      .unionByName(hashed.agg(countDistinct(col("h")).as("n_exact"))
        .select(lit("__all").as("scope"), col("n_exact")))
    sketches.join(exact, Seq("scope"))
      .select(col("scope"), col("n_exact"),
        size(col("sk")).as("sk_size"),
        element_at(col("sk"), -1).as("kth_hash"),
        round(when(size(col("sk")) < KmvK, size(col("sk")).cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * HashSpace) /
            element_at(col("sk"), -1).cast("double")), 4).as("kmv_est"))
      .orderBy("scope")
  }

  /** q226 — INCREMENTAL cross-batch KMV maintenance (q217's sketch run
    * as a STORE, the q102/q127 incremental discipline for distinct
    * counts): one bottom-k sketch per ingest day, then every
    * day-D cumulative distinct-user estimate derives from the DAILY
    * SKETCHES ALONE (day-spine join over sketch elements + re-merge) —
    * history is never re-read, which is the entire economics of a
    * sketch store at 100 TB/day. The exact arm is computed scale-safely
    * too: first-seen day per user (one groupBy), cumulated over the
    * calendar spine — so the oracle pins BOTH arms exactly (KMV
    * contents are deterministic; no tolerance contract).
    *
    * Scale shape: the scan folds once into |days| sketches (512 B
    * each); everything cumulative runs on the |days| × k element table
    * (calendar × sketch-width — KBs at any scale). The day-spine
    * non-equi joins are over that profile table and the |days|-row
    * spine. */
  def q226IncrementalKmv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BottomKAggregator, Hashing}
    val kmv = udaf(new BottomKAggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        Hashing.md5Hash60(concat(lit("kmv:"), col("user_id"))).as("h"))
    // read by the day spine and the cumulative sketches
    val daily = ev.groupBy("day").agg(kmv(col("h")).as("sk"))
      .localCheckpoint()
    val days = daily.select(col("day").as("d"))
    val cum = daily.select(col("day"), explode(col("sk")).as("h"))
      .join(broadcast(days), col("day") <= col("d"))
      .groupBy("d").agg(kmv(col("h")).as("csk"))
    val firstSeen = ev.groupBy("h").agg(min(col("day")).as("fday"))
      .groupBy("fday").agg(count(lit(1)).as("n_new"))
    val cumExact = firstSeen
      .join(broadcast(days), col("fday") <= col("d"))
      .groupBy("d").agg(sum(col("n_new")).as("cum_exact"))
    cum.join(cumExact, Seq("d"))
      .join(firstSeen.withColumnRenamed("fday", "d"), Seq("d"), "left")
      .select(col("d").as("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new_users"),
        col("cum_exact").as("cum_exact_users"),
        size(col("csk")).as("cum_sketch_size"),
        round(when(size(col("csk")) < KmvK,
          size(col("csk")).cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * HashSpace) /
            element_at(col("csk"), -1).cast("double")), 4)
          .as("cum_kmv_est"))
      .orderBy("day")
  }

  /** q228 — KMV JACCARD between source vocabularies: set similarity
    * from the bottom-k sketches ALONE — the deterministic companion to
    * q153's HLL inclusion-exclusion (which estimates the intersection
    * SIZE with a tolerance contract): the k smallest distinct hashes
    * of A ∪ B are a uniform sample of the union, so the fraction of
    * them present in BOTH per-source sketches estimates J(A,B) — and
    * because sketch contents are deterministic, estimate AND exact arm
    * are both oracle-exact. Fixture: each source's word-BIGRAM
    * vocabulary (the q221 unit — the user-segment sets are fully
    * overlapping on this generator, so vocabulary is where real
    * set variation lives). The estimator's classic use: pairwise
    * corpus-similarity matrices over thousands of stored sketches
    * without ever touching raw text.
    *
    * Scale shape: per-source sketches are one fold; all pair work runs
    * on the |sources|² × k element profile (KBs). The exact arm
    * (distinct-pair join) is the test-scale contract, the thing the
    * sketches exist to replace. */
  def q228KmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BottomKAggregator, Hashing}
    val kmv = udaf(new BottomKAggregator(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val hashed = Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(ws[i-1], ' ', ws[i]))")).as("unit"))
      .select(col("source"),
        Hashing.md5Hash60(concat(lit("kmvj:"), col("unit"))).as("h"))
    val elems = hashed.groupBy("source").agg(kmv(col("h")).as("sk"))
      .select(col("source"), explode(col("sk")).as("h"))
    val typePairs = elems.select(col("source").as("ta")).distinct()
      .join(elems.select(col("source").as("tb")).distinct(),
        col("ta") < col("tb"))
    val pairElems = typePairs.join(broadcast(elems),
        col("source") === col("ta") || col("source") === col("tb"))
      .groupBy("ta", "tb", "h")
      .agg(max((col("source") === col("ta")).cast("int")).as("in_a"),
        max((col("source") === col("tb")).cast("int")).as("in_b"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("ta", "tb").orderBy("h")
    val est = pairElems.withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= KmvK)
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_union_sk"),
        sum((col("in_a") === 1 && col("in_b") === 1).cast("long"))
          .as("n_both"))
    // exact arm (test-scale contract): distinct hash pair join
    val tu = hashed.distinct()
    val inter = tu.select(col("source").as("ta"), col("h"))
      .join(tu.select(col("source").as("tb"), col("h")), Seq("h"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_inter"))
    val sizes = tu.groupBy(col("source")).agg(count(lit(1)).as("n"))
    est.join(inter, Seq("ta", "tb"))
      .join(sizes.select(col("source").as("ta"), col("n").as("na")),
        Seq("ta"))
      .join(sizes.select(col("source").as("tb"), col("n").as("nb")),
        Seq("tb"))
      .select(col("ta").as("source_a"), col("tb").as("source_b"),
        col("n_union_sk"), col("n_both"),
        round(col("n_both").cast("double") / col("n_union_sk"), 6)
          .as("jaccard_est"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")), 6).as("jaccard_exact"))
      .orderBy("source_a", "source_b")
  }

  /** q273 — EXACT cross-source vocabulary overlap matrix: for every
    * source pair, the exact bigram-vocabulary intersection, union and
    * Jaccard — the exact companion (and test-scale ground truth) to
    * q228's KMV ESTIMATE of the same quantity, over the IDENTICAL
    * unit definition (space-split word bigrams). Run both to price
    * the sketch: at corpus scale only q228 is affordable; here the
    * exact fold shows what the k=256 bottom-k trades away.
    *
    * Mechanism: one distinct (source, bigram) pass, then each bigram
    * folds to a source-membership BITMASK (sources indexed by sorted
    * order — an enum-sized profile); the mask HISTOGRAM (≤ 2^|sources|
    * rows) is all any pairwise overlap needs — the vocabulary itself
    * is never touched again, so the pair loop runs on a handful of
    * rows regardless of corpus size. All counts exact; Jaccard is one
    * division. */
  def q273SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val units = Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(ws[i-1], ' ', ws[i]))")).as("unit"))
      .distinct()
    val srcIdx = units.select("source").distinct()
      .withColumn("idx", row_number().over(
        Window.orderBy("source")))
    val maskHist = units
      .join(broadcast(srcIdx), Seq("source"))
      .groupBy("unit")
      .agg(sum(expr(
        "cast(shiftleft(cast(1 as bigint), idx - 1) as bigint)"))
        .as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("cnt"))
    val pairs = srcIdx.select(col("source").as("source_a"),
        col("idx").as("ia"))
      .join(broadcast(srcIdx.select(col("source").as("source_b"),
        col("idx").as("ib"))), col("source_a") < col("source_b"))
    pairs.join(broadcast(maskHist),
        expr("(shiftright(mask, ia - 1) & 1) = 1 or " +
          "(shiftright(mask, ib - 1) & 1) = 1"))
      .groupBy("source_a", "source_b")
      .agg(
        sum(when(expr("(shiftright(mask, ia - 1) & 1) = 1"), col("cnt"))
          .otherwise(0L)).as("n_a"),
        sum(when(expr("(shiftright(mask, ib - 1) & 1) = 1"), col("cnt"))
          .otherwise(0L)).as("n_b"),
        sum(when(expr("(shiftright(mask, ia - 1) & 1) = 1 and " +
          "(shiftright(mask, ib - 1) & 1) = 1"), col("cnt"))
          .otherwise(0L)).as("n_inter"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q276 — WEIGHTED source-overlap matrix (weighted Jaccard
    * Σmin/Σmax over bigram FREQUENCIES): the frequency-aware
    * companion to q273's set overlap — two sources can share most of
    * their vocabulary (high set Jaccard) while using it at wildly
    * different rates; weighted Jaccard is what a mixture designer
    * (q99/q150) actually needs, because duplication inflates Σmin
    * where it inflates training exposure.
    *
    * Identity that makes it scale: Σmax = totalA + totalB − Σmin
    * (absent units contribute max = the present count, min = 0), so
    * ONLY the shared-unit equi-join on content key is ever computed —
    * never a union fan-out. Pair spine is the enum-sized source list;
    * all counts exact; one division. */
  def q276WeightedOverlap(spark: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.documents(spark, dir)
      .select(col("source"), split(trim(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> concat(ws[i-1], ' ', ws[i]))")).as("unit"))
      .groupBy("source", "unit").agg(count(lit(1)).as("c"))
    val tot = cnts.groupBy("source").agg(sum(col("c")).as("total"))
    val minSums = cnts.select(col("source").as("sa"), col("unit"),
        col("c").as("ca"))
      .join(cnts.select(col("source").as("sb"), col("unit"),
        col("c").as("cb")), Seq("unit"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(sum(least(col("ca"), col("cb"))).as("sum_min"))
    val spine = tot.select(col("source").as("sa"), col("total").as("total_a"))
      .join(broadcast(tot.select(col("source").as("sb"),
        col("total").as("total_b"))), col("sa") < col("sb"))
    spine.join(minSums, Seq("sa", "sb"), "left_outer")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("total_a"), col("total_b"),
        coalesce(col("sum_min"), lit(0L)).as("sum_min"),
        round(coalesce(col("sum_min"), lit(0L)).cast("double") /
          (col("total_a") + col("total_b") -
            coalesce(col("sum_min"), lit(0L))).cast("double"), 6)
          .as("weighted_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q92 — Count-Min frequency sketch (A5 family, alongside q49's HLL
    * and q72's KLL): per-type event counts estimated from a mergeable
    * CMS built in one distributed pass (`stat.countMinSketch` merges
    * per-partition sketches), probed via a closure over the tiny sketch.
    * Like q49/q72 the oracle checks the ACCURACY CONTRACT: CMS never
    * undercounts, and overshoot is bounded by 2*eps*N (eps = 0.001 gives
    * width 2719, so 5 distinct keys collide with ~nothing). At 100 TB
    * the sketch is the servable artifact: KBs per column, mergeable
    * across partitions/days, answering point frequency queries without
    * rescanning the corpus. */
  def q92CountMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val eps = 0.001
    val sketch = ev.stat.countMinSketch("event_type", eps, 0.99, 42)
    // probe via the codegen graft_cms_estimate expression (the
    // graft_bloom_contains discipline — serialized sketch as a binary
    // literal, per-row probe inside WholeStageCodegen, no boxed UDF;
    // VERDICT r09 #9). A null key can't live in the sketch; the
    // expression propagates null and within_bound folds the null group
    // explicitly via the isNull disjunct.
    val sketchBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val w = Window.partitionBy()
    Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("exact_n"))
      .withColumn("total_n", sum(col("exact_n")).over(w))
      .withColumn("est_n", call_function("graft_cms_estimate",
        lit(sketchBytes), col("event_type")))
      .select(col("event_type"), col("exact_n"),
        (col("event_type").isNull ||
          (col("est_n") >= col("exact_n") &&
            (col("est_n") - col("exact_n")).cast("double") <=
              lit(2 * eps) * col("total_n"))).as("within_bound"))
      .orderBy("event_type")
  }

  /** q100 — mergeable HLL sketch export + union: per-(type, day) user
    * sketches built once (`hll_sketch_agg`, the storable artifact an
    * incremental pipeline persists per partition), then merged across
    * days (`hll_union_agg`) and estimated — distinct-count rollup
    * WITHOUT rescanning history, the A5 "mergeable exported sketch"
    * path at 100 TB/day rates. Contract oracle like q49: the merged
    * estimate must land within 15% of the exact distinct count. */
  def q100HllUnion(spark: SparkSession, dir: String): DataFrame = {
    // one checkpointed 3-column projection feeds both the sketch build
    // and the exact ground truth (no second events scan)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
      .localCheckpoint()
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    // count(col) skips a null-day group, matching the oracle's
    // count(DISTINCT date); the contract is vacuously true when the
    // exact count is 0 (all-null users), instead of dividing by zero
    val merged = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(col("day")).as("n_day_sketches"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_day_sketches"), col("exact_users"),
        (col("exact_users") === 0 ||
          abs(col("est") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.15).as("merged_within_15pct"))
      .orderBy("event_type")
  }

  /** q105 — mergeable frequency-sketch top-k (the A5 family's heavy-
    * hitters member, alongside q100's HLL and q92's CMS): per-day
    * `approx_top_k_accumulate` sketches — the storable per-partition
    * artifact — merged across days with `approx_top_k_combine` and read
    * out with `approx_top_k_estimate`, so an incremental pipeline gets
    * corpus-wide heavy hitters WITHOUT rescanning history. While the
    * column's distinct cardinality stays under the sketch's tracked
    * capacity (default 10000) the merged counts are exact, which is what
    * makes the group-count oracle a hash-exact check; past capacity the
    * same plan degrades gracefully to approximate heavy hitters. The
    * top-10 cut is NOT taken from the sketch's internal order: the
    * estimate reads out the full tracked set (k = capacity) and the cut
    * is a deterministic (count desc, item) sort + limit applied
    * identically in the oracle — a sketch-side k would make boundary
    * ties engine-dependent (code-review r04). */
  def q105TopkSketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("day")
      .agg(expr("approx_top_k_accumulate(event_type)").as("sk"))
    // grouped by a constant, so no days give no rows: a global
    // aggregate over no rows would serialize an empty combine buffer,
    // which Spark fails on (MatchError)
    daily.groupBy(lit("all"))
      .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 10000)")
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("event_type"), col("t.count").as("est_count"))
      .orderBy(desc("est_count"), asc("event_type"))
      .limit(10)
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

  /** Exact-overlap arm in SQL; the sketch estimate's tolerance verdict
    * is the engine-side contract (the q52/q148 pattern). */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q276_weighted_overlap", q276WeightedOverlap _,
      """WITH cnts AS (
        |  SELECT source, ws[i] || ' ' || ws[i + 1] AS unit,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, string_split(trim(text), ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')) - 1)) AS i
        |        FROM documents)
        |  WHERE len(ws) >= 2
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS total
        |        FROM cnts GROUP BY 1),
        |min_sums AS (
        |  SELECT a.source AS sa, b.source AS sb,
        |         CAST(sum(least(a.c, b.c)) AS BIGINT) AS sum_min
        |  FROM cnts a JOIN cnts b
        |    ON a.unit = b.unit AND a.source < b.source
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT a.source AS sa, a.total AS total_a,
        |         b.source AS sb, b.total AS total_b
        |  FROM tot a JOIN tot b ON a.source < b.source)
        |SELECT s.sa AS source_a, s.sb AS source_b,
        |       s.total_a, s.total_b,
        |       COALESCE(m.sum_min, 0) AS sum_min,
        |       round(CAST(COALESCE(m.sum_min, 0) AS DOUBLE)
        |             / CAST(s.total_a + s.total_b
        |                    - COALESCE(m.sum_min, 0) AS DOUBLE), 6)
        |         AS weighted_jaccard
        |FROM spine s LEFT JOIN min_sums m
        |  ON m.sa = s.sa AND m.sb = s.sb
        |ORDER BY source_a, source_b""".stripMargin),
    QueryDef("q273_source_overlap", q273SourceOverlap _,
      """WITH units AS (
        |  SELECT DISTINCT source, ws[i] || ' ' || ws[i + 1] AS unit
        |  FROM (SELECT source, string_split(trim(text), ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')) - 1)) AS i
        |        FROM documents)
        |  WHERE len(ws) >= 2),
        |src AS (
        |  SELECT source,
        |         CAST(row_number() OVER (ORDER BY source) AS INTEGER)
        |           AS idx
        |  FROM (SELECT DISTINCT source FROM units)),
        |masks AS (
        |  SELECT u.unit,
        |         CAST(sum(1::BIGINT << (s.idx - 1)) AS BIGINT) AS mask
        |  FROM units u JOIN src s ON s.source = u.source
        |  GROUP BY 1),
        |hist AS (SELECT mask, CAST(count(*) AS BIGINT) AS cnt
        |         FROM masks GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS source_a, a.idx AS ia,
        |         b.source AS source_b, b.idx AS ib
        |  FROM src a JOIN src b ON a.source < b.source),
        |folded AS (
        |  SELECT p.source_a, p.source_b,
        |         CAST(sum(CASE WHEN ((h.mask >> (p.ia - 1)) & 1) = 1
        |                       THEN h.cnt ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(sum(CASE WHEN ((h.mask >> (p.ib - 1)) & 1) = 1
        |                       THEN h.cnt ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(sum(CASE WHEN ((h.mask >> (p.ia - 1)) & 1) = 1
        |                        AND ((h.mask >> (p.ib - 1)) & 1) = 1
        |                       THEN h.cnt ELSE 0 END) AS BIGINT)
        |           AS n_inter
        |  FROM pairs p JOIN hist h
        |    ON ((h.mask >> (p.ia - 1)) & 1) = 1
        |    OR ((h.mask >> (p.ib - 1)) & 1) = 1
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_a, n_b, n_inter,
        |       n_a + n_b - n_inter AS n_union,
        |       round(CAST(n_inter AS DOUBLE)
        |             / CAST(n_a + n_b - n_inter AS DOUBLE), 6) AS jaccard
        |FROM folded ORDER BY source_a, source_b""".stripMargin),
    QueryDef("q153_hll_intersect", q153HllIntersect _,
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_exact,
        |       TRUE AS within_tol
        |FROM tu a JOIN tu b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2
        |ORDER BY type_a, type_b""".stripMargin),
    // fully EXACT oracle (no tolerance arm): KMV sketch contents are a
    // deterministic function of the input set, and bottom-k of the
    // union of sketches == bottom-k of the union of sets
    QueryDef("q217_kmv_distinct", q217KmvDistinct _,
      s"""WITH h AS (
        |  SELECT DISTINCT event_type,
        |         ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM events),
        |ranked AS (
        |  SELECT event_type AS scope, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h)
        |           AS rn
        |  FROM h
        |  UNION ALL
        |  SELECT '__all', h, row_number() OVER (ORDER BY h)
        |  FROM (SELECT DISTINCT h FROM h)),
        |sk AS (
        |  SELECT scope, count(*) AS sk_size, max(h) AS kth_hash
        |  FROM ranked WHERE rn <= $KmvK GROUP BY scope),
        |ex AS (
        |  SELECT event_type AS scope, count(DISTINCT h) AS n_exact
        |  FROM h GROUP BY 1
        |  UNION ALL
        |  SELECT '__all', count(DISTINCT h) FROM h)
        |SELECT sk.scope, CAST(ex.n_exact AS BIGINT) AS n_exact,
        |       CAST(sk.sk_size AS INTEGER) AS sk_size, sk.kth_hash,
        |       round(CASE WHEN sk.sk_size < $KmvK
        |                  THEN CAST(sk.sk_size AS DOUBLE)
        |                  ELSE (${KmvK - 1}.0 * 1152921504606846976.0)
        |                       / CAST(sk.kth_hash AS DOUBLE) END, 4)
        |         AS kmv_est
        |FROM sk JOIN ex ON sk.scope = ex.scope
        |ORDER BY sk.scope""".stripMargin),
    QueryDef("q226_incremental_kmv", q226IncrementalKmv _,
      s"""WITH ev AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day,
        |         ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM events),
        |dsk AS (
        |  SELECT day, h FROM (
        |    SELECT day, h,
        |           row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        |    FROM ev)
        |  WHERE rn <= $KmvK),
        |days AS (SELECT DISTINCT day AS d FROM ev),
        |cum AS (
        |  SELECT d, count(*) AS cum_sketch_size, max(h) AS kth FROM (
        |    SELECT d, h FROM (
        |      SELECT u.d, u.h,
        |             row_number() OVER (PARTITION BY u.d ORDER BY u.h)
        |               AS rn
        |      FROM (SELECT DISTINCT y.d, e.h
        |            FROM dsk e JOIN days y ON e.day <= y.d) u)
        |    WHERE rn <= $KmvK)
        |  GROUP BY d),
        |fs AS (SELECT h, min(day) AS fday FROM ev GROUP BY h),
        |nn AS (SELECT fday, count(*) AS n_new FROM fs GROUP BY 1),
        |cex AS (SELECT y.d, CAST(sum(n.n_new) AS BIGINT) AS cum_exact
        |        FROM nn n JOIN days y ON n.fday <= y.d GROUP BY 1)
        |SELECT c.d AS day,
        |       CAST(coalesce(nn.n_new, 0) AS BIGINT) AS n_new_users,
        |       x.cum_exact AS cum_exact_users,
        |       CAST(c.cum_sketch_size AS INTEGER) AS cum_sketch_size,
        |       round(CASE WHEN c.cum_sketch_size < $KmvK
        |                  THEN CAST(c.cum_sketch_size AS DOUBLE)
        |                  ELSE (${KmvK - 1}.0 * 1152921504606846976.0)
        |                       / CAST(c.kth AS DOUBLE) END, 4)
        |         AS cum_kmv_est
        |FROM cum c
        |JOIN cex x ON x.d = c.d
        |LEFT JOIN nn ON nn.fday = c.d
        |ORDER BY day""".stripMargin),
    QueryDef("q228_kmv_jaccard", q228KmvJaccard _,
      s"""WITH h AS (
        |  SELECT DISTINCT source,
        |         ('0x' || substr(md5('kmvj:' || (ws[i] || ' ' || ws[i + 1])),
        |                         1, 15))::BIGINT AS h
        |  FROM (SELECT source, string_split(trim(text), ' ') AS ws,
        |               unnest(generate_series(1,
        |                 len(string_split(trim(text), ' ')) - 1)) AS i
        |        FROM documents)
        |  WHERE len(ws) >= 2),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |           row_number() OVER (PARTITION BY source ORDER BY h)
        |             AS rn
        |    FROM h)
        |  WHERE rn <= $KmvK),
        |tp AS (
        |  SELECT a.source AS ta, b.source AS tb
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b
        |    ON a.source < b.source),
        |pe AS (
        |  SELECT t.ta, t.tb, s.h,
        |         max(CASE WHEN s.source = t.ta THEN 1 ELSE 0 END)
        |           AS in_a,
        |         max(CASE WHEN s.source = t.tb THEN 1 ELSE 0 END)
        |           AS in_b
        |  FROM tp t JOIN sk s
        |    ON s.source = t.ta OR s.source = t.tb
        |  GROUP BY 1, 2, 3),
        |est AS (
        |  SELECT ta, tb, count(*) AS n_union_sk,
        |         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1
        |                       ELSE 0 END) AS BIGINT) AS n_both
        |  FROM (SELECT ta, tb, h, in_a, in_b,
        |               row_number() OVER (PARTITION BY ta, tb ORDER BY h)
        |                 AS rn
        |        FROM pe)
        |  WHERE rn <= $KmvK GROUP BY 1, 2),
        |inter AS (
        |  SELECT a.source AS ta, b.source AS tb,
        |         count(*) AS n_inter
        |  FROM h a JOIN h b
        |    ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2),
        |sz AS (SELECT source, count(*) AS n FROM h GROUP BY 1)
        |SELECT e.ta AS source_a, e.tb AS source_b,
        |       CAST(e.n_union_sk AS BIGINT) AS n_union_sk, e.n_both,
        |       round(CAST(e.n_both AS DOUBLE) / e.n_union_sk, 6)
        |         AS jaccard_est,
        |       round(CAST(i.n_inter AS DOUBLE)
        |             / (sa.n + sb.n - i.n_inter), 6) AS jaccard_exact
        |FROM est e
        |JOIN inter i ON i.ta = e.ta AND i.tb = e.tb
        |JOIN sz sa ON sa.source = e.ta
        |JOIN sz sb ON sb.source = e.tb
        |ORDER BY source_a, source_b""".stripMargin),
    QueryDef("q105_topk_sketch_union", q105TopkSketchUnion _,
      """SELECT event_type, count(*) AS est_count
        |FROM events GROUP BY 1
        |ORDER BY est_count DESC, event_type
        |LIMIT 10""".stripMargin),
    QueryDef("q100_hll_union", q100HllUnion _,
      """SELECT event_type,
        |       count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
        |         AS n_day_sketches,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS merged_within_15pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q92_count_min", q92CountMin _,
      """SELECT event_type, count(*) AS exact_n, TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
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
    }))
}
