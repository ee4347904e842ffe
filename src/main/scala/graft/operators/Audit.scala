package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] table-audit operators: changelog merge-apply (q172, the batch
  * analogue of MERGE INTO), replica-consistency reconciliation (q171,
  * three-way: base + changelog → expected, diffed against the replica),
  * and FK integrity scanning (q181) — the apply/verify loop every
  * replicated lakehouse runs per ingest cycle. q136 (Relational) is
  * the sibling two-version row-level change feed; q171 differs in that
  * its reference side is COMPUTED from upstream inputs, so it catches
  * apply-pipeline bugs, not just drift.
  *
  * Scale shape: q172 reduces the changelog with ONE max(struct(...))
  * aggregate (map-side partial combine: each task emits at most one
  * row per key) instead of a row_number window, which would sort every
  * change record inside the shuffle; the merge itself is a single
  * full-outer join on the key. q171 reduces both sides to (key, value)
  * before its full-outer join and folds the verdicts to a ≤4-row
  * report. On a partitioned production base table these plans get
  * dynamic partition pruning from the changelog's touched-partition
  * set for free.
  *
  * Determinism discipline: the synthetic replica corruption and the
  * upsert/delete ops are derived from key arithmetic (`k % p == 0`),
  * not engine hashes, so the oracle reproduces them bit-identically;
  * latest-wins ties are impossible because (event ts micros, event_id)
  * is unique.
  *
  * Also here: SCD type-1 upsert and SCD2 history and point-in-time attach
  * (q78, q80, q128), the Benford first-digit audit (q353), penny-exact
  * proration (q367) and the duplicate-invoice scan (q371).
  */
object Audit {

  /** Divisors synthesizing the q171 corrupted replica from the
    * expected state: keys ≡0 mod 31 are missing at the replica,
    * ≡0 mod 29 carry a corrupted value, ≡0 mod 37 are cloned to a
    * phantom key. Pairwise coprime so classes overlap-free by key
    * (a missing key cannot also be value-checked) except the phantom
    * clones, which coexist with their source row. */
  private[graft] val MissMod = 31
  private[graft] val CorruptMod = 29
  private[graft] val PhantomMod = 37

  /** q171 — replica-consistency audit (three-way reconciliation):
    * derive the EXPECTED post-merge state from base + changelog (the
    * q172 merge), diff it against what a replica actually holds, and
    * fold the discrepancies into an audit report
    * (missing_at_replica / phantom_at_replica / value_mismatch /
    * consistent, with key checksums) — the cross-region replication
    * validator, distinct from q136's row-level two-version change
    * feed: here the reference side is COMPUTED from upstream inputs,
    * so the audit catches apply-pipeline bugs, not just drift. The
    * replica is synthesized deterministically (see
    * [[MissMod]]/[[CorruptMod]]/[[PhantomMod]]) so every class is
    * exercised on driver-fixed data.
    *
    * Both sides reduce to (key, cents) before the full-outer join and
    * the report is a ≤4-row aggregate — output size independent of
    * table size; `key_checksum` (exact Σkey) lets two sites compare
    * reports without exchanging key lists. */
  def q171ReplicaAudit(spark: SparkSession, dir: String): DataFrame = {
    val expected = mergedState(spark, dir).select(
      col("user_id").as("k"), col("cents"))
    val replica = expected
      .filter(col("k") % MissMod =!= 0)
      .withColumn("cents",
        when(col("k") % CorruptMod === 0, col("cents") + 1L)
          .otherwise(col("cents")))
      .unionByName(
        expected.filter(col("k") % PhantomMod === 0)
          .withColumn("k", col("k") + 10000L))
    expected.withColumnRenamed("cents", "cents_e")
      .join(replica.withColumnRenamed("cents", "cents_r"),
        Seq("k"), "full_outer")
      .select(col("k"),
        when(col("cents_r").isNull, "missing_at_replica")
          .when(col("cents_e").isNull, "phantom_at_replica")
          .when(col("cents_e") =!= col("cents_r"), "value_mismatch")
          .otherwise("consistent").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("k")).as("key_checksum"),
        min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy("status")
  }

  /** Provisioned account range for the q172 base snapshot: users
    * [0, BaseUsers) start at [[BaseCents]]; the events changelog only
    * touches users 0..149, so the tail survives untouched and proves
    * the no-changelog branch of the merge. */
  private[graft] val BaseUsers = 200L
  private[graft] val BaseCents = 10000L

  /** q172 — CDC merge-apply (batch MERGE INTO): reduce the events
    * changelog to the latest op per key (latest-wins by event time,
    * event_id tie-break), then apply it to a base snapshot —
    * `error` events are tombstones (DELETE), everything else upserts
    * the event's value. Output is the post-merge state with row
    * provenance (`base` = untouched, `changelog` = upserted).
    *
    * Latest-wins via max(struct(us, event_id, op, cents)) — struct
    * ordering is lexicographic and (us, event_id) is unique, so this
    * is exactly "ORDER BY ts DESC, event_id DESC LIMIT 1 per key" but
    * partial-aggregatable: at 100 TB each map task pre-folds its
    * partition to ≤1 row/key before the shuffle, where the window
    * formulation would sort the full changelog. */
  def q172CdcMerge(spark: SparkSession, dir: String): DataFrame =
    mergedState(spark, dir).orderBy("user_id")

  /** Unsorted merge core shared by q172 (which adds the presentation
    * sort) and q171 (which consumes it three times as a subtree — a
    * trailing global sort there would be re-evaluated and immediately
    * destroyed by the joins). */
  private def mergedState(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.range(0L, BaseUsers)
      .select(col("id").as("user_id"), lit(BaseCents).as("base_cents"))
    val latest = Tables.events(spark, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          when(col("event_type") === "error", "D").otherwise("U").as("op"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
          .as("rec"))
      .groupBy("user_id")
      .agg(max(col("rec")).as("last"))
      .select(col("user_id"), col("last.op").as("op"),
        col("last.cents").as("chg_cents"))
    base.join(latest, Seq("user_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("user_id"),
        when(col("op") === "U", col("chg_cents"))
          .otherwise(col("base_cents")).as("cents"),
        when(col("op") === "U", "changelog").otherwise("base").as("src"))
  }

  /** Divisor simulating a partial orders ingest for q181: dropping
    * keys ≡0 mod 997 from the parent side orphans their lineitems, so
    * the referential checks have real violations to catch (the q139
    * lesson: an audit that can only ever pass proves nothing). */
  private[graft] val OrphanMod = 997

  /** q181 — referential-integrity audit: FK orphan scans across the
    * star schema (lineitem→orders, lineitem→part, orders→customer,
    * customer→nation), one row per constraint with violation and
    * checked counts. Complements q139, which validates VALUES with
    * per-table scans — these are the JOIN-shaped constraints a
    * single-table fold cannot express. The orders parent is
    * deterministically decimated (see [[OrphanMod]]) to simulate the
    * partial-ingest failure the audit exists to catch.
    *
    * Each check is a left-anti join on the FK: child keys project to
    * the key column before the join (shuffle carries keys only), dim
    * parents (customer, nation) broadcast, and the fact-fact orphan
    * scan (lineitem vs orders) shuffles on the natural join key — at
    * 100 TB the documented accelerations are a parent-key bloom filter
    * at the child scan and storage bucketing on orderkey (q134). */
  def q181IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % OrphanMod =!= 0)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    def check(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, broadcastParent: Boolean)
        : DataFrame = {
      val p = parent.select(col(pkey))
      val rhs = if (broadcastParent) broadcast(p) else p
      val orphans = child.select(col(key))
        .join(rhs, col(key) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val total = child.agg(count(lit(1)).as("n_checked"))
      orphans.crossJoin(total).select(lit(name).as("constraint_name"),
        col("violations"), col("n_checked"))
    }
    check("customer_nation_fk", cust, "c_nationkey", nat, "n_nationkey",
        broadcastParent = true)
      .unionByName(check("lineitem_orders_fk", li, "l_orderkey", ord,
        "o_orderkey", broadcastParent = false))
      .unionByName(check("lineitem_part_fk", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey", broadcastParent = true))
      .unionByName(check("orders_customer_fk", ord, "o_custkey", cust,
        "c_custkey", broadcastParent = true))
      .orderBy("constraint_name")
  }

  /** q199 — partition fingerprint manifest: per day-partition of the
    * events table, row count, exact cents sum, and an ORDER-FREE
    * content fingerprint (bit_xor of a 60-bit md5 over the exactly-
    * serialized row) — the manifest two replication sites exchange to
    * find the divergent partition without exchanging rows (q171 then
    * reconciles just that partition). XOR is the right fold: it is
    * commutative/associative (partitioning-proof), never overflows,
    * and any single-row difference flips it; doubles are never hashed
    * (cents only) so the fingerprint is engine-portable. One
    * map-side-combinable aggregate over the scan. */
  def q199PartitionManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("event_id"),
        col("user_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        unix_micros(col("ts")).as("us"))
      .select(col("d"), col("cents"),
        graft.functions.Hashing.md5Hash60(concat_ws("|",
          col("event_id"), col("us"), col("user_id"), col("event_type"),
          col("cents"))).as("h"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("cents_sum"),
        expr("bit_xor(h)").as("fingerprint"))
      .orderBy("d")

  /** q239's candidate dependencies: (relation, lhs, rhs). A mix of
    * true FDs (nation name determines region; o_orderkey is a key —
    * key DETECTION is the degenerate FD case) and plausible-but-false
    * ones — the profiler must separate them by measurement, not by
    * assumption. */
  private[graft] val FdCandidates: Seq[(String, String, String)] = Seq(
    ("nation", "n_name", "n_regionkey"),
    ("part", "p_name", "p_brand"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("events", "event_type", "user_id"))

  /** q239 — FUNCTIONAL-DEPENDENCY audit (schema-profiling): for each
    * candidate A → B in [[FdCandidates]], measure how far the data is
    * from satisfying it with the standard g3 error — the MINIMUM
    * fraction of rows to delete so the FD holds exactly
    * (g3 = 1 − Σ_groups max_b count(A=a, B=b) / n). The discovery
    * primitive behind normalization advice, key detection, and
    * "is this column derivable?" curation questions; q181 checks
    * DECLARED foreign keys, this MEASURES undeclared dependencies.
    *
    * Exactness: per-candidate the fold is (lhs, rhs) counts → per-lhs
    * max + total (exact BIGINTs end-to-end); g3 is ONE division.
    *
    * Scale shape: one two-level combinable fold per candidate over
    * its column pair (content-keyed — no fixed hot key); the report
    * is |candidates| rows. A production run sweeps column pairs of
    * one table the same way — each pair an independent fold. */
  def q239FdAudit(spark: SparkSession, dir: String): DataFrame = {
    val frames: Map[String, DataFrame] = Map(
      "nation" -> Tables.nation(spark, dir),
      "part" -> Tables.part(spark, dir),
      "customer" -> Tables.customer(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "events" -> Tables.events(spark, dir))
    FdCandidates.map { case (rel, lhs, rhs) =>
      val pairCnt = frames(rel)
        .select(col(lhs).cast("string").as("a"),
          col(rhs).cast("string").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      pairCnt.groupBy("a")
        .agg(sum(col("c")).as("grp_rows"), max(col("c")).as("keep_rows"),
          count(lit(1)).as("n_rhs"))
        .agg(sum(col("grp_rows")).as("n_rows"),
          count(lit(1)).as("n_groups"),
          sum(when(col("n_rhs") > 1L, 1L).otherwise(0L))
            .as("violating_groups"),
          sum(col("grp_rows") - col("keep_rows")).as("rows_to_fix"))
        .select(lit(rel).as("rel"), lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_rows"), col("n_groups"), col("violating_groups"),
          col("rows_to_fix"),
          round(col("rows_to_fix").cast("double") /
            col("n_rows").cast("double"), 6).as("g3_error"),
          (col("rows_to_fix") === 0L).as("holds"))
    }.reduce(_ unionAll _).orderBy("rel", "lhs", "rhs")
  }

  /** q257's audited equi-joins: (left rel, left key, right rel,
    * right key). */
  private[graft] val CardJoins: Seq[(String, String, String, String)] =
    Seq(
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("events", "user_id", "customer", "c_custkey"))

  /** q257 — CARDINALITY-ESTIMATOR CALIBRATION (the CBO audit): for
    * each audited equi-join, compare the textbook System-R estimate
    * |A|·|B| / max(ndv_A, ndv_B) (uniform-key assumption) against the
    * TRUE join cardinality, reporting the q-error
    * max(est/actual, actual/est) — the standard metric for "can the
    * optimizer trust its stats on THIS data?". A q-error near 1 means
    * uniform-assumption join reordering is safe; a large one names
    * the join whose key skew (q206's subject) will wreck plan
    * choices. The actual count never materializes the join: it folds
    * Σ_k cntA(k)·cntB(k) over the two per-key COUNT PROFILES.
    *
    * Exactness: counts/ndv/actual are exact BIGINTs (the profile
    * product sum stays far under 2^53 at profile granularity); the
    * estimate forms in doubles (|A|·|B| exceeds int64 at scale — the
    * q227 lesson); q-error is one max of two divisions.
    *
    * Scale shape: per join, two content-keyed count-profile folds and
    * one profile⋈profile equi-join — never the data join itself;
    * report = |joins| rows. */
  def q257CardCalibration(spark: SparkSession, dir: String): DataFrame = {
    val frames: Map[String, DataFrame] = Map(
      "customer" -> Tables.customer(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "part" -> Tables.part(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "events" -> Tables.events(spark, dir))
    CardJoins.map { case (ra, ka, rb, kb) =>
      val profA = frames(ra).groupBy(col(ka).cast("long").as("k"))
        .agg(count(lit(1)).as("ca"))
      val profB = frames(rb).groupBy(col(kb).cast("long").as("k"))
        .agg(count(lit(1)).as("cb"))
      val statsA = profA.agg(sum(col("ca")).as("na"),
        count(lit(1)).as("ndva"))
      val statsB = profB.agg(sum(col("cb")).as("nb"),
        count(lit(1)).as("ndvb"))
      val actual = profA.join(profB, Seq("k"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("actual"))
      statsA.crossJoin(statsB).crossJoin(actual)
        .withColumn("est",
          col("na").cast("double") * col("nb").cast("double") /
            greatest(col("ndva"), col("ndvb")).cast("double"))
        .select(lit(s"$ra⋈$rb").as("join_pair"),
          lit(ka).as("key"), col("na"), col("nb"),
          col("ndva"), col("ndvb"),
          round(col("est"), 2).as("est_rows"),
          col("actual"),
          when(col("actual") > 0L, round(greatest(
            col("est") / col("actual").cast("double"),
            col("actual").cast("double") / col("est")), 4))
            .as("q_error"))
    }.reduce(_ unionAll _).orderBy("join_pair", "key")
  }

  /** q290 — HISTOGRAM-SELECTIVITY CALIBRATION: build a 10-bucket
    * equi-depth histogram on the fact price column (the structure a
    * CBO keeps), then probe it at each bucket's MIDPOINT with a `x ≤ m`
    * range predicate and compare the histogram's uniform-within-bucket
    * estimate against the exact fraction — per probe, the calibration
    * error of the assumption every range-selectivity estimate rests
    * on. The range-predicate companion to q257's join-cardinality
    * audit: q257 grades the independence assumption, this grades
    * uniform-spread. A column whose errors spike mid-bucket is skewed
    * INSIDE buckets and needs more buckets (or a different key) before
    * its estimates can be trusted.
    *
    * Exactness: prices quantize to BIGINT cents per row; boundaries
    * are exact (n−1)-interpolated percentiles over the cents (the
    * q151/q278 discipline); the estimate and the actual fraction are
    * fixed double expressions over exact integers, mirrored verbatim
    * (midpoints halve exact-integer sums, so every comparison
    * `cents ≤ m` is deterministic).
    *
    * Scale shape: one percentile fold builds the 11-boundary profile;
    * the actual counts ride ONE scan crossed with the broadcast
    * 10-row probe table (10× map-side fan-out, combinable conditional
    * count — never 10 scans); everything downstream is 10 rows. */
  def q290SelectivityCalibration(spark: SparkSession, dir: String): DataFrame = {
    // r15: both arms run on the DISTINCT-CENTS FREQUENCY PROFILE, not
    // the raw rows. The old shape fed every fact row into the exact
    // `percentile` aggregate — an ImperativeAggregate whose single
    // final task measured 5.4 s at sf0.1 (the whole query's wall) and
    // whose buffer holds every value, the classic 100 TB OOM shape —
    // and scanned the facts a second time for the probe counts. The
    // profile is one combinable codegen hash aggregate (parallel at
    // any scale); `percentile(c, pcts, f)` over it is BIT-IDENTICAL
    // (the aggregate's internal state IS a value→count map — feeding
    // pre-counted values builds the same map), and the probe-count arm
    // sums frequencies instead of rows (exact integers). The final
    // percentile task now touches distinct values only.
    val centProf = Tables.lineitem(spark, dir)
      .select(expr("cast(round(l_extendedprice * 100, 0) as bigint)")
        .as("c"))
      .groupBy("c").agg(count(lit(1)).as("f"))
    val bounds = centProf.agg(
      expr("percentile(c, array(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, " +
        "0.6, 0.7, 0.8, 0.9, 1.0), f)").as("bs"),
      sum(col("f")).as("n"))
    val probes = bounds.select(col("n"),
      posexplode(expr("transform(sequence(1, 10), " +
        "j -> struct(bs[j - 1] as lo, bs[j] as hi))")))
      .select((col("pos") + 1).as("j"), col("n"),
        col("col.lo").as("lo"), col("col.hi").as("hi"),
        ((col("col.lo") + col("col.hi")) / 2).as("m"))
    val est = when(col("hi") > col("lo"),
      (col("j") - 1 + (col("m") - col("lo")) / (col("hi") - col("lo")))
        / lit(10.0))
      .otherwise((col("j").cast("double") - 0.5) / 10.0)
    val actual = centProf.crossJoin(broadcast(probes))
      .groupBy("j", "n", "lo", "hi", "m")
      .agg(sum(when(col("c").cast("double") <= col("m"), col("f"))
        .otherwise(0L)).as("n_le"))
    actual
      .select(col("j").as("bucket"),
        round(col("lo") / 100, 2).as("lo_price"),
        round(col("hi") / 100, 2).as("hi_price"),
        round(est, 8).as("est_frac"),
        round(col("n_le").cast("double") / col("n"), 8).as("actual_frac"),
        round(abs(est - col("n_le").cast("double") / col("n")), 8)
          .as("abs_err"))
      .orderBy("bucket")
  }

  /** q328 assumed shuffle parallelism for the salt recommendation
    * (matches the session's shuffle partitions). */
  private[graft] val SaltParallelism = 32L

  /** q328 — JOIN-SKEW SALT ADVISOR: per join key of the fact table,
    * the hottest key's share of rows and the salt factor that would
    * level it across [[SaltParallelism]] shuffle partitions —
    * salt = ceil(max_key_rows / (rows / parallelism)), 1 meaning "no
    * salting needed". The decision input behind q75's salted
    * aggregate, registered as an auditable artifact the way q286
    * registers partition pruning and q309 Bloom sizing: a key whose
    * advisor row says salt = 1 should never pay the salting rewrite.
    *
    * Exactness: per-key counts exact (one melted fold, the q286
    * discipline); the recommendation is integer ceil arithmetic. */
  def q328SaltAdvisor(spark: SparkSession, dir: String): DataFrame = {
    def cand(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("key_name"), v.cast("long").as("key_value"))
    val melted = Tables.lineitem(spark, dir).select(inline(array(
      cand("l_orderkey", col("l_orderkey")),
      cand("l_partkey", col("l_partkey")),
      cand("l_suppkey", col("l_suppkey")))))
    melted.groupBy("key_name", "key_value")
      .agg(count(lit(1)).as("n"))
      .groupBy("key_name")
      .agg(sum("n").as("rows"), count(lit(1)).as("ndv"),
        max("n").as("max_n"))
      .select(col("key_name"), col("rows"), col("ndv"), col("max_n"),
        round(col("max_n").cast("double") / col("rows"), 8)
          .as("top_key_share"),
        // ceil(max_n·P / rows) as exact integer arithmetic
        expr(s"(max_n * $SaltParallelism + rows - 1) div rows")
          .as("salt_factor"))
      .orderBy("key_name")
  }

  /** q337 — FRESHNESS / VOLUME MATRIX: one row per warehouse table —
    * row count, latest business date (for the time-bearing tables)
    * and staleness in days against the freshest table — the
    * cross-table DQ heartbeat a pipeline owner checks before any
    * analysis trusts a join (q94 profiles one table's columns; this
    * is the fleet view). Dimension tables report NULL latest — they
    * are declared timeless, not silently fresh.
    *
    * Exactness: counts and max-dates exact; staleness integer day
    * differences. */
  def q337FreshnessMatrix(spark: SparkSession, dir: String): DataFrame = {
    def dated(name: String, df: DataFrame, dc: Column) =
      df.agg(count(lit(1)).as("n_rows"),
        max(to_date(dc)).as("latest"))
        .select(lit(name).as("table_name"), col("n_rows"), col("latest"))
    def timeless(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("table_name"), col("n_rows"),
          lit(null).cast("date").as("latest"))
    val rows = Seq(
      dated("lineitem", Tables.lineitem(spark, dir), col("l_shipdate")),
      dated("orders", Tables.orders(spark, dir), col("o_orderdate")),
      dated("events", Tables.events(spark, dir), col("ts")),
      timeless("customer", Tables.customer(spark, dir)),
      timeless("supplier", Tables.supplier(spark, dir)),
      timeless("part", Tables.part(spark, dir)),
      timeless("documents", Tables.documents(spark, dir)),
      timeless("embeddings", Tables.embeddings(spark, dir)))
      .reduce(_ unionByName _)
    val freshest = rows.agg(max("latest").as("freshest"))
    rows.crossJoin(broadcast(freshest))
      .select(col("table_name"), col("n_rows"), col("latest"),
        datediff(col("freshest"), col("latest")).as("days_stale"))
      .orderBy("table_name")
  }

  private def fdAuditSql: String = {
    val arms = FdCandidates.map { case (rel, lhs, rhs) =>
      s"""SELECT '$rel' AS rel, '$lhs' AS lhs, '$rhs' AS rhs,
         |       CAST(sum(grp_rows) AS BIGINT) AS n_rows,
         |       count(*) AS n_groups,
         |       CAST(count(*) FILTER (WHERE n_rhs > 1) AS BIGINT)
         |         AS violating_groups,
         |       CAST(sum(grp_rows - keep_rows) AS BIGINT) AS rows_to_fix,
         |       round(CAST(sum(grp_rows - keep_rows) AS DOUBLE)
         |             / CAST(sum(grp_rows) AS DOUBLE), 6) AS g3_error,
         |       CAST(sum(grp_rows - keep_rows) AS BIGINT) = 0 AS holds
         |FROM (SELECT a, CAST(sum(c) AS BIGINT) AS grp_rows,
         |             CAST(max(c) AS BIGINT) AS keep_rows,
         |             count(*) AS n_rhs
         |      FROM (SELECT CAST($lhs AS VARCHAR) AS a,
         |                   CAST($rhs AS VARCHAR) AS b, count(*) AS c
         |            FROM $rel GROUP BY 1, 2)
         |      GROUP BY a)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"SELECT * FROM ($arms)\nORDER BY rel, lhs, rhs"
  }

  private def cardCalibrationSql: String = {
    val arms = CardJoins.map { case (ra, ka, rb, kb) =>
      s"""SELECT '$ra⋈$rb' AS join_pair, '$ka' AS key,
         |       na, nb, ndva, ndvb,
         |       round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |             / CAST(greatest(ndva, ndvb) AS DOUBLE), 2)
         |         AS est_rows,
         |       actual,
         |       CASE WHEN actual > 0 THEN round(greatest(
         |         (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |          / CAST(greatest(ndva, ndvb) AS DOUBLE))
         |           / CAST(actual AS DOUBLE),
         |         CAST(actual AS DOUBLE)
         |           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
         |              / CAST(greatest(ndva, ndvb) AS DOUBLE))), 4) END
         |         AS q_error
         |FROM (
         |  SELECT (SELECT CAST(sum(ca) AS BIGINT) FROM pa_$ra$ka) AS na,
         |         (SELECT count(*) FROM pa_$ra$ka) AS ndva,
         |         (SELECT CAST(sum(cb) AS BIGINT) FROM pb_$rb$kb) AS nb,
         |         (SELECT count(*) FROM pb_$rb$kb) AS ndvb,
         |         (SELECT CAST(COALESCE(sum(a.ca * b.cb), 0) AS BIGINT)
         |          FROM pa_$ra$ka a JOIN pb_$rb$kb b ON a.k = b.k)
         |           AS actual)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ctes = CardJoins.flatMap { case (ra, ka, rb, kb) =>
      Seq(
        s"""pa_$ra$ka AS (
           |  SELECT CAST($ka AS BIGINT) AS k, count(*) AS ca
           |  FROM $ra GROUP BY 1)""".stripMargin,
        s"""pb_$rb$kb AS (
           |  SELECT CAST($kb AS BIGINT) AS k, count(*) AS cb
           |  FROM $rb GROUP BY 1)""".stripMargin)
    }.distinct.mkString(",\n")
    s"WITH $ctes\nSELECT * FROM ($arms)\nORDER BY join_pair, key"
  }

  /** q78 — SCD type-1 upsert as a full-outer merge: an incoming snapshot
    * overwrites matching keys, inserts new ones, leaves the rest — the
    * MERGE INTO shape on plain immutable storage (rewrite-on-merge;
    * at scale, partition the dim so only touched partitions rewrite). */
  def q78Scd1Upsert(spark: SparkSession, dir: String): DataFrame = {
    val current = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") % 2 === 0)
      .select(col("s_suppkey").as("k"), col("s_name").as("cur_name"),
        col("s_acctbal").as("cur_bal"))
    val incoming = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") % 3 === 0)
      .select(col("s_suppkey").as("k"), col("s_name").as("new_name"),
        round(col("s_acctbal") + 100, 2).as("new_bal"))
    current.join(incoming, Seq("k"), "full_outer")
      .select(col("k").as("suppkey"),
        coalesce(col("new_name"), col("cur_name")).as("name"),
        round(coalesce(col("new_bal"), col("cur_bal")), 2).as("acctbal"),
        when(col("cur_name").isNull, "inserted")
          .when(col("new_name").isNull, "unchanged")
          .otherwise("updated").as("change_type"))
      .orderBy("suppkey")
  }

  /** q80 — SCD2 dimension history: collapse each customer's order-priority
    * timeline into validity ranges (valid_from / valid_to / is_current).
    * One window pass marks change points, a cumulative sum numbers the
    * versions, one aggregate collapses them — the standard
    * change-data-capture shape. Partitioned by custkey: at 100 TB this is
    * one hash shuffle and per-key sorted state, no self-join. */
  def q80Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("custkey").orderBy("ts", "o_orderkey")
    val versioned = Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("ts"), col("o_orderkey"))
      .withColumn("prev", lag(col("priority"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("priority"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))
    val vers = versioned.groupBy("custkey", "version")
      .agg(min(col("priority")).as("priority"),
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val wv = Window.partitionBy("custkey").orderBy("version")
    vers
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .select(col("custkey"), col("version"), col("priority"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_orders"))
      .orderBy("custkey", "version")
  }

  /** q128 — SCD2 point-in-time attach: join each fact row to the
    * dimension version that was valid WHEN THE FACT HAPPENED — the
    * composition that makes SCD2 history (q80) useful, and the one
    * that silently leaks future attributes when done with a plain
    * latest-version join. Expressed as the native as-of join
    * ([[graft.plans.AsofJoin]]): one clustered shuffle + sort per
    * side and an O(1)-state streaming merge, instead of the range
    * join (valid_from <= ts < valid_to) whose interval predicate
    * Spark would plan as a pairwise blowup. Version starts are
    * deduped to end-of-day state (max version per (custkey, date)) so
    * the as-of match is unique and deterministic in both engines.
    * Output: per customer, how many orders attach to a version whose
    * priority matches the order's own (same-date priority flips
    * legitimately attach to the end-of-day version, so consistency is
    * high but not vacuously 100%). */
  def q128Scd2PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val hist = q80Scd2History(spark, dir)
      .groupBy(col("custkey").as("h_custkey"), col("valid_from"))
      .agg(max(struct(col("version"), col("priority"))).as("v"))
      .select(col("h_custkey"), col("valid_from"),
        col("v.version").as("pit_version"),
        col("v.priority").as("pit_priority"))
    val facts = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey").as("custkey"),
      col("o_orderdate"), col("o_orderpriority"))
    graft.plans.AsofJoin.asofJoin(facts, hist,
        Seq("custkey"), Seq("h_custkey"), "o_orderdate", "valid_from")
      .groupBy("custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum((col("pit_priority") === col("o_orderpriority")).cast("long"))
          .as("n_pit_consistent"),
        max(col("pit_version")).as("max_version"))
      .orderBy("custkey")
  }

  /** q353 pinned Benford expectations, ppm: p_d = log10(1 + 1/d)
    * (libm log10 of constants — pinned Scala literals both engines
    * read, the Benford6/cos6 discipline). */
  private[graft] val BenfordPpm: Seq[Long] = (1 to 9).map { d =>
    math.rint(math.log10(1.0 + 1.0 / d) * 1e6).toLong
  }

  /** q353 — BENFORD FIRST-DIGIT AUDIT of order totals: observed
    * first-significant-digit shares of the exact cent amounts vs the
    * Benford expectation, with per-digit χ² contributions — the
    * classic forensic/data-quality scan for fabricated or truncated
    * monetary columns (a synthetic generator that draws uniform
    * prices FAILS it loudly, which is itself the honest result on
    * this corpus — the audit's value is the number, not a pass).
    *
    * Exactness: digits from the decimal string of exact cents; shares
    * and χ² terms are single divisions / products of exact integers
    * and pinned ppm literals, micro-quantized once. Zero-filled digit
    * spine (1–9) so the output shape is fixed.
    *
    * Scale shape: one fact fold to the 9-row digit profile. */
  def q353BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(expr("cast(round(o_totalprice * 100, 0) as bigint)")
        .as("cents"))
      .filter(col("cents") > 0L)
      .select(expr("cast(substring(cast(cents as string), 1, 1) as int)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_d"))
    val spine = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        typedLit(BenfordPpm).as("ppm_all"))
      .withColumn("expected_ppm", expr("element_at(ppm_all, digit)"))
      .drop("ppm_all")
    val tot = digits.agg(sum(col("n_d")).as("n"))
    spine.join(digits, Seq("digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e_d",
        col("n").cast("double") * col("expected_ppm") / 1e6)
      .select(col("digit"), col("n_d"),
        expr("cast(round(n_d * 1e6 / n, 0) as bigint)")
          .as("observed_ppm"),
        col("expected_ppm"),
        expr("cast(round((n_d - e_d) * (n_d - e_d) / e_d * 1e6, 0) " +
          "as bigint)").as("chi2_micro"))
      .orderBy("digit")
  }

  /** q367 — PENNY-EXACT PRORATION AUDIT: allocate each order's header
    * total across its line items proportionally to extended price, in
    * whole cents, with the largest-remainder top-up INSIDE each order
    * (per-order windows over ≤7 lines) — the classic financial
    * allocation where Σ line allocations MUST equal the header total
    * for every order (taxes/discounts make the header differ from the
    * line sum, which is exactly why naive rounding drifts). Registered
    * as its reconciliation audit: counts, the exactness boolean
    * (bool_and over per-order sums), and the topped-up line count.
    *
    * Exactness: all arithmetic is BIGINT (products ≤ cents² < 2⁶³ at
    * every graded scale — header ≤ ~6e6 cents, line share the same);
    * no double appears anywhere. */
  def q367PennyProration(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100, 0) as bigint)")
          .as("line_cents"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)")
          .as("total_cents"))
    val wOrd = Window.partitionBy("l_orderkey")
    val based = lines.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("order_line_sum", sum(col("line_cents")).over(wOrd))
      .withColumn("base",
        expr("total_cents * line_cents div order_line_sum"))
      .withColumn("rem",
        expr("(total_cents * line_cents) % order_line_sum"))
      .withColumn("rem_rank", row_number().over(
        wOrd.orderBy(col("rem").desc, col("l_linenumber").asc)))
      .withColumn("short",
        col("total_cents") - sum(col("base")).over(wOrd))
      .withColumn("alloc",
        col("base") + when(col("rem_rank") <= col("short"), 1L)
          .otherwise(0L))
    val perOrder = based.groupBy("l_orderkey", "total_cents")
      .agg(sum(col("alloc")).as("alloc_sum"),
        count(lit(1)).as("n_lines"),
        sum(when(col("rem_rank") <= col("short"), 1L).otherwise(0L))
          .as("topped"))
    perOrder.agg(
        count(lit(1)).as("n_orders"),
        sum(col("n_lines")).as("n_lines"),
        sum(col("topped")).as("n_topped_up"),
        expr("bool_and(alloc_sum = total_cents)")
          .as("allocation_exact"),
        sum(col("total_cents")).as("total_allocated_cents"))
  }

  /** q371 duplicate-invoice window (days). */
  private[graft] val DupInvoiceWindowDays = 7

  /** q371 — DUPLICATE-INVOICE SCAN: pairs of orders by the SAME
    * customer for the IDENTICAL amount within
    * [[DupInvoiceWindowDays]] days — the classic accounts-payable
    * double-payment audit (q31's exact dedup catches identical
    * documents; this catches identical MONEY EVENTS, which is a
    * different fraud/ops surface). Candidates come from an equi-join
    * on the (customer, exact cents) content key — amount equality IS
    * the blocking key, so the pair set is bounded by amount-collision
    * groups, never customers² — then the day-window predicate
    * filters. Reported as the audit aggregate: suspect pairs, distinct
    * later orders (the ones a clerk would hold), and the cents at
    * risk.
    *
    * Scale shape: one self-equi-join on (custkey, cents) + a distinct
    * fold; single-row output. */
  def q371DuplicateInvoice(spark: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        expr("cast(round(o_totalprice * 100, 0) as bigint)").as("cents"),
        col("o_orderkey").as("okey"), to_date(col("o_orderdate")).as("d"))
    val pairs = ords.select(col("cust"), col("cents"),
        col("okey").as("k1"), col("d").as("d1"))
      .join(ords.select(col("cust"), col("cents"), col("okey").as("k2"),
        col("d").as("d2")), Seq("cust", "cents"))
      .filter(col("k1") < col("k2") &&
        abs(datediff(col("d2"), col("d1"))) <= DupInvoiceWindowDays)
    // the "later" order of a pair = larger key on a date tie, else the
    // later date — the one a reviewer holds
    val later = pairs.select(col("cents"),
      when(col("d2") > col("d1") ||
        (col("d2") === col("d1") && col("k2") > col("k1")), col("k2"))
        .otherwise(col("k1")).as("held"))
    pairs.agg(count(lit(1)).as("n_suspect_pairs"))
      .crossJoin(broadcast(later.select("held", "cents").distinct()
        .agg(count(lit(1)).as("n_held_orders"),
          sum(col("cents")).as("cents_at_risk"))))
      .select(col("n_suspect_pairs"),
        coalesce(col("n_held_orders"), lit(0L)).as("n_held_orders"),
        coalesce(col("cents_at_risk"), lit(0L)).as("cents_at_risk"))
  }

  /** Oracle CTE text of q80's SCD2 version chain: `base` (one row per
    * order: customer, priority, date), `marked` (1 where the priority
    * differs from the customer's previous order) and `versioned` (the
    * running count of changes as `version`). Shared by q80 and q128. */
  private val Scd2VersionedCte =
    """base AS (
      |  SELECT o_custkey AS custkey, o_orderpriority AS priority,
      |         o_orderdate AS ts, o_orderkey
      |  FROM orders),
      |marked AS (
      |  SELECT *, CASE WHEN lag(priority) OVER w IS NULL
      |                   OR lag(priority) OVER w <> priority
      |                 THEN 1 ELSE 0 END AS chg
      |  FROM base WINDOW w AS (PARTITION BY custkey ORDER BY ts, o_orderkey)),
      |versioned AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY custkey
      |              ORDER BY ts, o_orderkey ROWS UNBOUNDED PRECEDING)
      |            AS INT) AS version
      |  FROM marked)""".stripMargin

  /** The CDC replay q171 and q172 share as oracle CTEs: the synthetic
    * `base` snapshot (user_id, base_cents) and each user's `latest`
    * change (user_id, op, chg_cents), an error event deleting. */
  private val cdcCtes: String =
    s"""base AS (
      |  SELECT CAST(unnest(range(0, $BaseUsers)) AS BIGINT) AS user_id,
      |         CAST($BaseCents AS BIGINT) AS base_cents),
      |chg AS (
      |  SELECT user_id,
      |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
      |                    event_id DESC) AS rn
      |  FROM events),
      |latest AS (SELECT user_id, op, cents AS chg_cents
      |           FROM chg WHERE rn = 1)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q337_freshness_matrix", q337FreshnessMatrix _,
      """WITH rows_ AS (
        |  SELECT 'lineitem' AS table_name,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         max(CAST(l_shipdate AS DATE)) AS latest FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |         max(CAST(o_orderdate AS DATE)) FROM orders
        |  UNION ALL
        |  SELECT 'events', CAST(count(*) AS BIGINT),
        |         max(CAST(ts AS DATE)) FROM events
        |  UNION ALL
        |  SELECT 'customer', CAST(count(*) AS BIGINT),
        |         CAST(NULL AS DATE) FROM customer
        |  UNION ALL
        |  SELECT 'supplier', CAST(count(*) AS BIGINT),
        |         CAST(NULL AS DATE) FROM supplier
        |  UNION ALL
        |  SELECT 'part', CAST(count(*) AS BIGINT),
        |         CAST(NULL AS DATE) FROM part
        |  UNION ALL
        |  SELECT 'documents', CAST(count(*) AS BIGINT),
        |         CAST(NULL AS DATE) FROM documents
        |  UNION ALL
        |  SELECT 'embeddings', CAST(count(*) AS BIGINT),
        |         CAST(NULL AS DATE) FROM embeddings),
        |freshest AS (SELECT max(latest) AS f FROM rows_)
        |SELECT table_name, n_rows, latest,
        |       CAST(date_diff('day', latest, (SELECT f FROM freshest))
        |         AS INTEGER) AS days_stale
        |FROM rows_ ORDER BY table_name""".stripMargin),
    QueryDef("q328_salt_advisor", q328SaltAdvisor _,
      s"""WITH melted AS (
        |  SELECT 'l_orderkey' AS key_name, l_orderkey AS key_value
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |per_key AS (
        |  SELECT key_name, key_value, CAST(count(*) AS BIGINT) AS n
        |  FROM melted GROUP BY 1, 2),
        |agg AS (
        |  SELECT key_name, CAST(sum(n) AS BIGINT) AS rows,
        |         CAST(count(*) AS BIGINT) AS ndv,
        |         CAST(max(n) AS BIGINT) AS max_n
        |  FROM per_key GROUP BY 1)
        |SELECT key_name, rows, ndv, max_n,
        |       round(CAST(max_n AS DOUBLE) / rows, 8) AS top_key_share,
        |       (max_n * $SaltParallelism + rows - 1) // rows
        |         AS salt_factor
        |FROM agg ORDER BY key_name""".stripMargin),
    QueryDef("q290_selectivity_calibration", q290SelectivityCalibration _,
      """WITH cents AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
        |  FROM lineitem),
        |bounds AS (
        |  SELECT quantile_cont(c, [0.0, 0.1, 0.2, 0.3, 0.4, 0.5,
        |                           0.6, 0.7, 0.8, 0.9, 1.0]) AS bs,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM cents),
        |probes AS (
        |  SELECT j, b.n, b.bs[j] AS lo, b.bs[j + 1] AS hi,
        |         (b.bs[j] + b.bs[j + 1]) / 2 AS m
        |  FROM bounds b, (SELECT unnest(generate_series(1, 10)) AS j)),
        |actual AS (
        |  SELECT p.j, p.n, p.lo, p.hi, p.m,
        |         CAST(sum(CASE WHEN CAST(c.c AS DOUBLE) <= p.m
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_le
        |  FROM cents c CROSS JOIN probes p
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT CAST(j AS INTEGER) AS bucket,
        |       round(lo / 100, 2) AS lo_price,
        |       round(hi / 100, 2) AS hi_price,
        |       round(CASE WHEN hi > lo
        |                  THEN (j - 1 + (m - lo) / (hi - lo)) / 10.0
        |                  ELSE (CAST(j AS DOUBLE) - 0.5) / 10.0 END, 8)
        |         AS est_frac,
        |       round(CAST(n_le AS DOUBLE) / n, 8) AS actual_frac,
        |       round(abs(CASE WHEN hi > lo
        |                      THEN (j - 1 + (m - lo) / (hi - lo)) / 10.0
        |                      ELSE (CAST(j AS DOUBLE) - 0.5) / 10.0 END
        |                 - CAST(n_le AS DOUBLE) / n), 8) AS abs_err
        |FROM actual ORDER BY bucket""".stripMargin),
    QueryDef("q257_card_calibration", q257CardCalibration _,
      cardCalibrationSql),
    QueryDef("q239_fd_audit", q239FdAudit _, fdAuditSql),
    QueryDef("q171_replica_audit", q171ReplicaAudit _,
      s"""WITH $cdcCtes,
        |expected AS (
        |  SELECT COALESCE(base.user_id, latest.user_id) AS k,
        |         CASE WHEN op = 'U' THEN chg_cents
        |              ELSE base_cents END AS cents
        |  FROM base FULL OUTER JOIN latest
        |    ON base.user_id = latest.user_id
        |  WHERE op IS NULL OR op <> 'D'),
        |replica AS (
        |  SELECT k, CASE WHEN k % $CorruptMod = 0 THEN cents + 1
        |                 ELSE cents END AS cents
        |  FROM expected WHERE k % $MissMod <> 0
        |  UNION ALL
        |  SELECT k + 10000, cents FROM expected
        |  WHERE k % $PhantomMod = 0),
        |classified AS (
        |  SELECT COALESCE(e.k, r.k) AS k,
        |         CASE WHEN r.k IS NULL THEN 'missing_at_replica'
        |              WHEN e.k IS NULL THEN 'phantom_at_replica'
        |              WHEN e.cents <> r.cents THEN 'value_mismatch'
        |              ELSE 'consistent' END AS status
        |  FROM expected e FULL OUTER JOIN replica r ON e.k = r.k)
        |SELECT status, count(*) AS n_keys,
        |       CAST(sum(k) AS BIGINT) AS key_checksum,
        |       min(k) AS min_key, max(k) AS max_key
        |FROM classified GROUP BY status ORDER BY status""".stripMargin),
    QueryDef("q172_cdc_merge", q172CdcMerge _,
      s"""WITH $cdcCtes
        |SELECT COALESCE(base.user_id, latest.user_id) AS user_id,
        |       CASE WHEN op = 'U' THEN chg_cents ELSE base_cents END AS cents,
        |       CASE WHEN op = 'U' THEN 'changelog' ELSE 'base' END AS src
        |FROM base FULL OUTER JOIN latest ON base.user_id = latest.user_id
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY user_id""".stripMargin),
    QueryDef("q181_integrity_audit", q181IntegrityAudit _,
      s"""WITH ord AS (
        |  SELECT * FROM orders WHERE o_orderkey % $OrphanMod <> 0),
        |checks AS (
        |  SELECT 'customer_nation_fk' AS constraint_name,
        |         (SELECT count(*) FROM customer c
        |          WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                            WHERE n.n_nationkey = c.c_nationkey))
        |           AS violations,
        |         (SELECT count(*) FROM customer) AS n_checked
        |  UNION ALL
        |  SELECT 'lineitem_orders_fk',
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM ord o
        |                            WHERE o.o_orderkey = l.l_orderkey)),
        |         (SELECT count(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'lineitem_part_fk',
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM part p
        |                            WHERE p.p_partkey = l.l_partkey)),
        |         (SELECT count(*) FROM lineitem)
        |  UNION ALL
        |  SELECT 'orders_customer_fk',
        |         (SELECT count(*) FROM ord o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey)),
        |         (SELECT count(*) FROM ord))
        |SELECT constraint_name, violations, n_checked FROM checks
        |ORDER BY constraint_name""".stripMargin),
    QueryDef("q199_partition_manifest", q199PartitionManifest _,
      """WITH rows_ AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         ('0x' || substr(md5(concat_ws('|', event_id,
        |            epoch_us(CAST(ts AS TIMESTAMP)), user_id, event_type,
        |            CAST(round(value * 100, 0) AS BIGINT))), 1, 15))::BIGINT
        |           AS h
        |  FROM events)
        |SELECT d, count(*) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS cents_sum,
        |       bit_xor(h) AS fingerprint
        |FROM rows_ GROUP BY d ORDER BY d""".stripMargin),
    QueryDef("q78_scd1_upsert", q78Scd1Upsert _,
      """WITH cur AS (
        |  SELECT s_suppkey AS k, s_name AS cur_name, s_acctbal AS cur_bal
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |inc AS (
        |  SELECT s_suppkey AS k, s_name AS new_name,
        |         round(s_acctbal + 100, 2) AS new_bal
        |  FROM supplier WHERE s_suppkey % 3 = 0)
        |SELECT coalesce(cur.k, inc.k) AS suppkey,
        |       coalesce(new_name, cur_name) AS name,
        |       round(coalesce(new_bal, cur_bal), 2) AS acctbal,
        |       CASE WHEN cur_name IS NULL THEN 'inserted'
        |            WHEN new_name IS NULL THEN 'unchanged'
        |            ELSE 'updated' END AS change_type
        |FROM cur FULL OUTER JOIN inc ON cur.k = inc.k
        |ORDER BY suppkey""".stripMargin),
    QueryDef("q80_scd2_history", q80Scd2History _,
      s"""WITH $Scd2VersionedCte,
        |vers AS (
        |  SELECT custkey, version, min(priority) AS priority,
        |         min(ts) AS valid_from, count(*) AS n_orders
        |  FROM versioned GROUP BY custkey, version)
        |SELECT custkey, version, priority, valid_from,
        |       lead(valid_from) OVER w2 AS valid_to,
        |       (lead(valid_from) OVER w2 IS NULL) AS is_current,
        |       n_orders
        |FROM vers WINDOW w2 AS (PARTITION BY custkey ORDER BY version)
        |ORDER BY custkey, version""".stripMargin),
    // q80's version chain, end-of-day deduped, attached point-in-time
    // via DuckDB's real ASOF JOIN (unique match per fact by
    // construction, so both engines are deterministic)
    QueryDef("q128_scd2_pit_join", q128Scd2PitJoin _,
      s"""WITH $Scd2VersionedCte,
        |vers AS (
        |  SELECT custkey, version, min(priority) AS priority,
        |         min(ts) AS valid_from
        |  FROM versioned GROUP BY custkey, version),
        |ranked AS (
        |  SELECT custkey AS h_custkey, valid_from, version AS pit_version,
        |         priority AS pit_priority,
        |         row_number() OVER (PARTITION BY custkey, valid_from
        |                            ORDER BY version DESC) AS rn
        |  FROM vers),
        |h2 AS (SELECT h_custkey, valid_from, pit_version, pit_priority
        |       FROM ranked WHERE rn = 1),
        |facts AS (
        |  SELECT o_orderkey, o_custkey AS custkey, o_orderdate,
        |         o_orderpriority
        |  FROM orders)
        |SELECT f.custkey, count(*) AS n_orders,
        |       CAST(sum(CASE WHEN h.pit_priority = f.o_orderpriority
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_pit_consistent,
        |       CAST(max(h.pit_version) AS INT) AS max_version
        |FROM facts f ASOF LEFT JOIN h2 h
        |  ON f.custkey = h.h_custkey AND h.valid_from <= f.o_orderdate
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q353_benford_audit", q353BenfordAudit _,
      {
      val ppm = BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, ${p})" }.mkString(", ")
      s"""WITH expected(digit, expected_ppm) AS (VALUES $ppm),
        |cents AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        |  FROM orders
        |  WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT) > 0),
        |obs AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n_d
        |  FROM cents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM obs)
        |SELECT e.digit, coalesce(o.n_d, 0) AS n_d,
        |       CAST(round(coalesce(o.n_d, 0) * 1e6
        |                  / (SELECT n FROM tot), 0) AS BIGINT)
        |         AS observed_ppm,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(round((coalesce(o.n_d, 0)
        |           - (SELECT n FROM tot) * e.expected_ppm / 1e6)
        |         * (coalesce(o.n_d, 0)
        |           - (SELECT n FROM tot) * e.expected_ppm / 1e6)
        |         / ((SELECT n FROM tot) * e.expected_ppm / 1e6) * 1e6, 0)
        |         AS BIGINT) AS chi2_micro
        |FROM expected e LEFT JOIN obs o ON o.digit = e.digit
        |ORDER BY e.digit""".stripMargin
    }),
    QueryDef("q367_penny_proration", q367PennyProration _,
      """WITH lines AS (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           AS line_cents,
        |         o.total_cents
        |  FROM lineitem l
        |  JOIN (SELECT o_orderkey,
        |               CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                 AS total_cents
        |        FROM orders) o ON o.o_orderkey = l.l_orderkey),
        |based AS (
        |  SELECT l_orderkey, l_linenumber, total_cents,
        |         total_cents * line_cents
        |           // sum(line_cents) OVER (PARTITION BY l_orderkey)
        |           AS base,
        |         (total_cents * line_cents)
        |           % sum(line_cents) OVER (PARTITION BY l_orderkey)
        |           AS rem
        |  FROM lines),
        |ranked AS (
        |  SELECT l_orderkey, total_cents, base,
        |         row_number() OVER (PARTITION BY l_orderkey
        |           ORDER BY rem DESC, l_linenumber) AS rem_rank,
        |         total_cents - sum(base) OVER (PARTITION BY l_orderkey)
        |           AS short
        |  FROM based),
        |alloc AS (
        |  SELECT l_orderkey, total_cents,
        |         base + CASE WHEN rem_rank <= short THEN 1 ELSE 0 END
        |           AS alloc,
        |         CASE WHEN rem_rank <= short THEN 1 ELSE 0 END AS topped
        |  FROM ranked),
        |per_order AS (
        |  SELECT l_orderkey, total_cents,
        |         CAST(sum(alloc) AS BIGINT) AS alloc_sum,
        |         count(*) AS n_lines,
        |         CAST(sum(topped) AS BIGINT) AS topped
        |  FROM alloc GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |       CAST(sum(topped) AS BIGINT) AS n_topped_up,
        |       bool_and(alloc_sum = total_cents) AS allocation_exact,
        |       CAST(sum(total_cents) AS BIGINT)
        |         AS total_allocated_cents
        |FROM per_order""".stripMargin),
    QueryDef("q371_duplicate_invoice", q371DuplicateInvoice _,
      s"""WITH ords AS (
        |  SELECT o_custkey AS cust,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         o_orderkey AS okey, CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |pairs AS (
        |  SELECT a.cents, a.okey AS k1, b.okey AS k2, a.d AS d1,
        |         b.d AS d2
        |  FROM ords a JOIN ords b
        |    ON a.cust = b.cust AND a.cents = b.cents
        |   AND a.okey < b.okey
        |   AND abs(date_diff('day', a.d, b.d))
        |         <= $DupInvoiceWindowDays),
        |later AS (
        |  SELECT DISTINCT cents,
        |         CASE WHEN d2 > d1 OR (d2 = d1 AND k2 > k1) THEN k2
        |              ELSE k1 END AS held
        |  FROM pairs),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_held_orders,
        |               CAST(sum(cents) AS BIGINT) AS cents_at_risk
        |        FROM later)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs)
        |         AS n_suspect_pairs,
        |       coalesce(a.n_held_orders, 0) AS n_held_orders,
        |       coalesce(a.cents_at_risk, 0) AS cents_at_risk
        |FROM agg a""".stripMargin))
}
