package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] near-dup CLUSTER RESOLUTION and its consumers (split from
  * [[Dedup]], VERDICT r04 #6): connected components over the q34 pair
  * graph (q73, size-adaptive union-find / label propagation),
  * quality-aware canonical selection (q115), and the cross-source
  * duplication matrix (q126).
  */
object DedupClusters {


  /** q73 — dedup cluster resolution: connected components over the q34
    * near-dup pair graph, the step that turns a pair list into
    * per-document survivors (cluster id = min doc_id in the component;
    * canonical = that doc).
    *
    * SIZE-ADAPTIVE, like Spark's broadcast-vs-shuffle join choice: pair
    * graphs up to [[DriverCcMaxEdges]] resolve by driver union-find (one
    * collect of the — already similarity-thresholded, hence sparse —
    * pair list; exact, O(E α(E))); larger graphs take the distributed
    * min-label-propagation loop, where each round is one join + one
    * map-side-combinable min-aggregation (cf. the large-star/small-star
    * formulation), rounds = graph diameter, labels persisted per round,
    * convergence checked distributively (the only driver-side value is
    * one boolean count). Both paths produce identical labels. */
  def q73DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // release actions for the label-propagation rounds: `df` returns the
    // result already materialized in the session cache, so the rounds
    // that backed its lineage are freed as soon as it returns
    val toRelease = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    val out = graft.sources.DfCache.df(spark, s"dedup_clusters|$dir") {
      buildClusters(spark, dir, toRelease)
    }
    toRelease.foreach(_.apply())
    out
  }

  /** Pair graphs at or below this edge count resolve by driver-side
    * union-find; larger graphs take the distributed label-propagation
    * loop. 200k collected rows plus the boxed parent map is some tens
    * of MB of transient driver heap — the same order as a broadcast
    * join build side, safe on any reasonably-sized driver (a 1M-edge
    * threshold would be several hundred MB: Row objects + boxed
    * HashMap + the sorted result seq). Similarity-thresholded near-dup
    * graphs are SPARSE relative to the corpus (pairs, not documents),
    * so even a 100 TB campaign usually lands in the small path after
    * q31's exact pass — the loop is the correctness backstop for the
    * genuinely huge-graph case, size-adaptivity is the fast path,
    * exactly the broadcast-vs-shuffle-join trade. */
  private[operators] val DriverCcMaxEdges = 200000L

  private[graft] def driverUnionFind(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // union by MIN root: the root of every tree is the least id of its
    // component, so cluster_id = find(node) needs no second pass
    pairs.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    parent.keys.toSeq.sorted
      .map(n => (n, find(n), n == find(n)))
      .toDF("doc_id", "cluster_id", "is_canonical")
      .orderBy("doc_id")
  }

  private def buildClusters(spark: SparkSession, dir: String,
      toRelease: scala.collection.mutable.ArrayBuffer[() => Unit]): DataFrame = {
    val pairs = Dedup.q34DedupNgramJaccard(spark, dir).select("id1", "id2")
    // pairs is DfCache-persisted by q34, so this count is an O(pairs)
    // action on the cached frame, not a recompute
    if (pairs.count() <= DriverCcMaxEdges) driverUnionFind(spark, pairs)
    else propagateLabels(spark, pairs, toRelease)
  }

  /** One materialized round of iterative state: the leaf frame plus TWO
    * release actions. `releaseAll` frees storage AND (when reliably
    * checkpointed) deletes the round's checkpoint files — safe only
    * when nothing can ever recompute through this round again.
    * `releaseBlocksOnly` frees executor storage but RETAINS the
    * checkpoint files, for a round that still backs the lineage of a
    * live cached result. */
  private final case class RoundLease(frame: DataFrame,
      releaseAll: () => Unit, releaseBlocksOnly: () => Unit)

  /** Materialize one round of iterative state: persist the computed rows
    * and rewrap them as a plan-truncating leaf DataFrame. Persist alone
    * truncates EXECUTION but not the LOGICAL plan, and an iterative
    * algorithm referencing the previous round twice doubles the analyzed
    * tree per round — driver OOM at diameter ~15+ (found by the
    * CC-equivalence property test). The public `localCheckpoint` offers
    * no way to free its blocks, hence the manual persist + leaf rewrap.
    * When the context has a reliable checkpoint dir configured, the
    * round is ALSO reliably checkpointed: on a real cluster the
    * persisted-RDD round state (like local checkpoints) lives on
    * executors and dies with executor churn, while reliable checkpoints
    * survive and keep a days-long 100 TB campaign restartable.
    *
    * Checkpoint-file lifecycle (ADVICE.md r03 + code-review r04):
    * Spark's ContextCleaner only deletes these files when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled
    * (default false), so relying on it leaks one directory per round
    * for the life of the app. INTERMEDIATE rounds are released with
    * [[RoundLease.releaseAll]] as soon as their successor is
    * checkpointed (the successor's lineage is its own files — nothing
    * recomputes through a predecessor). The FINAL round backs the
    * returned labels' lineage for as long as the session caches them,
    * so q73 releases it with [[RoundLease.releaseBlocksOnly]]: its one
    * checkpoint directory is retained as the durable recompute path if
    * cached blocks are later evicted or lost — deleting it would make
    * the cached result unrecomputable on exactly the executor-churn
    * clusters checkpointing is for. Net: bounded at ONE retained
    * directory per q73 build instead of one per round. */
  private def materializeRound(spark: SparkSession, df: DataFrame)
      : RoundLease = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val unpersistOnly: () => Unit =
      () => { rdd.unpersist(blocking = false); () }
    val releaseAll: () => Unit =
      if (spark.sparkContext.getCheckpointDir.isDefined) {
        rdd.checkpoint()
        // an action materializes the checkpoint now (reading the rows
        // back from the persisted blocks, not a recompute); afterwards
        // the RDD's lineage is the checkpoint files. If the job dies
        // mid-materialization, release the partial state HERE — the
        // caller never sees a lease for this round, so its `live`
        // release list cannot cover it (code-review r04)
        try rdd.count()
        catch { case e: Throwable =>
          rdd.unpersist(blocking = false)
          rdd.getCheckpointFile.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
            catch { case _: java.io.IOException => () }
          }
          throw e
        }
        () => {
          rdd.unpersist(blocking = false)
          rdd.getCheckpointFile.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
            catch { case _: java.io.IOException => () } // best effort
          }
        }
      } else unpersistOnly
    RoundLease(org.apache.spark.sql.graft.Bridge
      .internalCreateDataFrame(spark, rdd, df.schema),
      releaseAll, unpersistOnly)
  }

  /** Distributed min-label propagation over an (id1, id2) pair frame —
    * the large-graph path of [[buildClusters]]; see the q73 Scaladoc.
    * `private[graft]` so the equivalence property test can drive it
    * directly below the [[DriverCcMaxEdges]] threshold. */
  private[graft] def propagateLabels(spark: SparkSession, pairs: DataFrame,
      toRelease: scala.collection.mutable.ArrayBuffer[() => Unit]): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .persist()
    // every piece of round state currently holding executor storage; on
    // any abort (non-convergence, job failure) it is ALL released, so a
    // retried call in a long-lived session starts clean instead of
    // stacking leaked edges/label tables per attempt
    val live = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    live += (() => { edges.unpersist(blocking = false); () })
    def materialize(df: DataFrame): RoundLease = {
      val lease = materializeRound(spark, df)
      live += lease.releaseAll
      lease
    }
    try {
      // Round 1 is fused into the initialization: with labels starting
      // at node ids, the first propagation is exactly
      // min(node, min-neighbor) — one aggregation, no join against a
      // prior label table.
      var currentLease = materialize(edges
        .groupBy(col("id1").as("node"))
        .agg(least(col("node"), min(col("id2"))).as("label")))
      var labels = currentLease.frame
      var converged = false
      var rounds = 0
      while (!converged && rounds < 20) {
        val neighborMin = edges
          .join(labels, edges("id2") === labels("node"))
          .groupBy(edges("id1").as("node"))
          .agg(min(col("label")).as("nbr_label"))
        // carry the per-node changed flag out of the same join, so the
        // convergence probe is one action on the materialized frame
        // instead of a second join per round
        val nextLease = materialize(
          labels.join(neighborMin, Seq("node"), "left_outer")
            .select(col("node"),
              least(col("label"), coalesce(col("nbr_label"), col("label")))
                .as("new_label"),
              (coalesce(col("nbr_label"), col("label")) < col("label"))
                .as("changed")))
        converged = nextLease.frame.filter(col("changed")).count() == 0
        // next is fully materialized by the count (blocks AND, when
        // checkpointing, its own files — nothing recomputes through the
        // predecessor), so the superseded round is fully released,
        // checkpoint files included
        currentLease.releaseAll()
        live -= currentLease.releaseAll
        currentLease = nextLease
        labels = nextLease.frame.select(col("node"),
          col("new_label").as("label"))
        rounds += 1
      }
      if (!converged)
        // a silent cap-exit would persist partial labels into DfCache and
        // serve wrong clusters for the session (ADVICE.md r02): a component
        // with diameter > the round cap needs more rounds, so fail loudly
        throw new IllegalStateException(
          s"dedup cluster label propagation did not converge after $rounds " +
            "rounds: a near-dup component has diameter exceeding the cap; " +
            "raise the round cap for this corpus")
      // success: the FINAL round backs the returned frame's lineage for
      // as long as the session caches the result, so the caller gets
      // its blocks-only release (checkpoint files retained as the
      // durable recompute path — see materializeRound); edges transfer
      // too, released after the result materializes
      live -= currentLease.releaseAll
      toRelease ++= live
      toRelease += currentLease.releaseBlocksOnly
      live.clear()
      labels
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          (col("node") === col("label")).as("is_canonical"))
        .orderBy("doc_id")
    } finally live.foreach(_.apply())
  }

  /** q115 — quality-aware cluster resolution: q73 keeps each near-dup
    * cluster's MINIMUM doc_id; real pipelines keep the BEST member
    * (longest / cleanest / highest-quality copy) and drop the rest.
    * This composes the q73 cluster labels with q39's quality score:
    * canonical = argmax(quality, lowest-id tie-break) per cluster.
    * Scale: the cluster table is |near-dup docs| rows (far below
    * corpus size), quality is a narrow per-doc column computed in the
    * scan stage, and the argmax is one max_by hash aggregation on
    * cluster_id — no new shuffle class beyond q73 itself. */
  def q115ClusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q73DedupClusters(spark, dir)
      .select("doc_id", "cluster_id")
    val quality = TextOps.q39QualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    clusters.join(quality, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id")))
          .as("canonical_id"),
        max(col("quality")).as("best_quality"))
      .orderBy("cluster_id")
  }

  /** q126 — cross-source duplication matrix: which SOURCES duplicate
    * each other — the provenance question (licensing exposure, scraper
    * overlap, mirror detection) a per-document dedup list can't answer
    * directly. For every unordered source pair (a <= b), counts the
    * near-dup clusters (q73) containing at least one doc from each;
    * the diagonal (a = b) is each source's total cluster
    * participation. Scale: the (cluster, source) table is at most
    * |clustered docs| rows BEFORE dedup and |clusters| x |sources
    * touched| after — tiny relative to the corpus — so the self-join
    * runs on cluster-key groups whose width is bounded by source
    * cardinality, never by document count. */
  def q126CrossSourceDup(spark: SparkSession, dir: String): DataFrame = {
    val cs = q73DedupClusters(spark, dir).select("doc_id", "cluster_id")
      .join(Tables.documents(spark, dir).select("doc_id", "source"),
        Seq("doc_id"))
      .select("cluster_id", "source").distinct()
    cs.as("a").join(cs.as("b"), Seq("cluster_id"))
      .filter(col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared_clusters"))
      .orderBy("src_a", "src_b")
  }

  /** q258 — NEAR-DUP CLUSTER-SIZE DISTRIBUTION: the histogram of q73
    * cluster sizes with singletons folded in — the dedup-campaign
    * planning view q73's per-doc labels don't show: a heavy cluster
    * tail means canonical-pick contention and big per-family output
    * deltas; near-total singletons mean the campaign is mostly pass-
    * through. Reports per size: cluster count, docs covered, corpus
    * share, everything exact except the one share division.
    *
    * Scale shape: one fold of the CACHED q73 label table to the
    * ≤ max-cluster-size histogram; singleton count is corpus total
    * minus clustered total (two scalars). */
  def q258ClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val clustered = q73DedupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
    val totals = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
    val clusteredDocs = clustered.agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_clustered"))
    val singletons = totals.crossJoin(clusteredDocs)
      .select(lit(1L).as("size"),
        (col("n_total") - col("n_clustered")).as("n_clusters"),
        (col("n_total") - col("n_clustered")).as("n_docs"))
    clustered.select(col("size").cast("long").as("size"),
        col("n_clusters"), col("n_docs"))
      .unionAll(singletons)
      .crossJoin(broadcast(totals))
      .select(col("size"), col("n_clusters"), col("n_docs"),
        round(try_divide(col("n_docs").cast("double"), col("n_total")), 6)
          .as("doc_share"))
      .orderBy("size")
  }

  /** q277 — DEDUP SAVINGS LEDGER: the one-row business case for the
    * dedup campaign — documents and TOKENS removed if every q73
    * near-dup cluster keeps one canonical (min doc_id, declared), as
    * absolute counts and shares. Token savings is the number that
    * matters for a training run (compute cost is token-linear, and
    * duplicated tokens also bias the model toward the duplicated
    * text); doc savings alone understates clusters of long documents.
    * q258 shows the cluster-size SHAPE; this prices the campaign.
    *
    * All counts exact; token counts are space-split word counts (the
    * q273/q228 unit family); ratios are single divisions. Cluster
    * labels come from the shared q73 build (DfCache — no second
    * clustering pass). */
  def q277DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q73DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val canon = clusters.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("canon"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      size(split(trim(col("text")), " ")).cast("long").as("toks"))
    val tagged = docs
      .join(clusters, Seq("doc_id"), "left_outer")
      .join(canon, Seq("cluster_id"), "left_outer")
      .withColumn("is_dup",
        col("cluster_id").isNotNull && col("doc_id") =!= col("canon"))
    tagged.agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("is_dup"), col("toks")).otherwise(0L))
          .as("n_dup_tokens"))
      .select(col("n_docs"), col("n_dup_docs"), col("n_tokens"),
        col("n_dup_tokens"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("doc_savings"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("token_savings"))
  }

  /** q300 top-k terms reported. */
  private[graft] val IdfShiftTopK = 20

  /** q300 — DEDUP IDF SHIFT: the terms whose document frequency is
    * most inflated by near-duplicates — per word, df over ALL
    * documents vs df over the q73 canonical survivors, with the
    * smoothed idf = ln((N+1)/(df+1)) before and after. The top-k by
    * df drop are the template/boilerplate phrases whose "importance"
    * every TF-IDF consumer (q86 ranking, q96 BM25, q147 DSIR) is
    * mis-estimating until the corpus is deduplicated — the statistic
    * that turns q277's one-row savings ledger into a term-level
    * relevance-damage report.
    *
    * Exactness: both df folds are exact integers over the distinct
    * (doc, word) incidence; idfs are ln of a single exact ratio
    * (blessed — the q123 precedent); ranking breaks ties by word.
    *
    * Scale shape: reuses the cached q73 labels (no second closure);
    * ONE distinct (doc, word) fold carries BOTH df counts via a
    * conditional sum against the broadcast dup-doc set — never two
    * corpus passes. */
  def q300IdfShift(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q73DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val canon = clusters.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("canon"))
    val dups = clusters.join(canon, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    val dw = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(
        expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
        .as("word"))
      .distinct()
      .join(broadcast(dups), Seq("doc_id"), "left")
      .withColumn("kept", col("is_dup").isNull)
    val totals = Tables.documents(spark, dir)
      .join(broadcast(dups), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("is_dup").isNull, 1L).otherwise(0L)).as("n_dedup"))
    def idf(n: Column, df: Column): Column =
      log((n + 1).cast("double") / (df + 1))
    dw.groupBy("word")
      .agg(count(lit(1)).as("df_raw"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("df_dedup"))
      .crossJoin(broadcast(totals))
      .select(col("word"), col("df_raw"), col("df_dedup"),
        (col("df_raw") - col("df_dedup")).as("df_drop"),
        round(idf(col("n_raw"), col("df_raw")), 6).as("idf_raw"),
        round(idf(col("n_dedup"), col("df_dedup")), 6).as("idf_dedup"),
        round(idf(col("n_dedup"), col("df_dedup")) -
          idf(col("n_raw"), col("df_raw")), 6).as("idf_shift"))
      .orderBy(col("df_drop").desc, col("word"))
      .limit(IdfShiftTopK)
  }

  /** q73's oracle closure: the q34 shingle pairs at Jaccard ≥ 0.8 as an
    * undirected edge list and its recursive reachability `reach(u, v)`.
    * Shared verbatim with q115/q126/q258/q277/q300, q117 ([[Curation]])
    * and q393 ([[CurationHardening]]); each names its own label CTE. */
  private[operators] val closureCtes: String =
    s"""${Dedup.jaccardCtes},
       |pairs AS (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes z1 ON z1.doc_id = id1
       |  JOIN sizes z2 ON z2.doc_id = id2
       |  WHERE CAST(n_inter AS DOUBLE) / (z1.sz + z2.sz - n_inter)
       |        >= 0.8),
       |edges AS (SELECT id1 AS u, id2 AS v FROM pairs
       |          UNION SELECT id2, id1 FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin


  val defs: Seq[QueryDef] = Seq(
    QueryDef("q300_idf_shift", q300IdfShift _,
      s"""WITH RECURSIVE $closureCtes,
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |canon AS (SELECT cluster_id, min(doc_id) AS canon
         |          FROM labels GROUP BY 1),
         |dups AS (
         |  SELECT l.doc_id FROM labels l JOIN canon c
         |    ON c.cluster_id = l.cluster_id
         |  WHERE l.doc_id <> c.canon),
         |totals AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_raw,
         |         CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_dedup
         |  FROM documents doc LEFT JOIN dups d ON d.doc_id = doc.doc_id),
         |dw AS (
         |  SELECT DISTINCT doc_id, word FROM (
         |    SELECT doc_id,
         |           unnest(list_filter(string_split(trim(text), ' '),
         |                              w -> length(w) > 0)) AS word
         |    FROM documents)),
         |dfs AS (
         |  SELECT w.word, CAST(count(*) AS BIGINT) AS df_raw,
         |         CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS df_dedup
         |  FROM dw w LEFT JOIN dups d ON d.doc_id = w.doc_id
         |  GROUP BY 1)
         |SELECT word, df_raw, df_dedup,
         |       df_raw - df_dedup AS df_drop,
         |       round(ln(CAST(t.n_raw + 1 AS DOUBLE) / (df_raw + 1)), 6)
         |         AS idf_raw,
         |       round(ln(CAST(t.n_dedup + 1 AS DOUBLE) / (df_dedup + 1)), 6)
         |         AS idf_dedup,
         |       round(ln(CAST(t.n_dedup + 1 AS DOUBLE) / (df_dedup + 1))
         |             - ln(CAST(t.n_raw + 1 AS DOUBLE) / (df_raw + 1)), 6)
         |         AS idf_shift
         |FROM dfs, totals t
         |ORDER BY df_drop DESC, word LIMIT $IdfShiftTopK""".stripMargin),
    QueryDef("q277_dedup_savings", q277DedupSavings _,
      s"""WITH RECURSIVE $closureCtes,
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |canon AS (SELECT cluster_id, min(doc_id) AS canon
         |          FROM labels GROUP BY 1),
         |docs_t AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(trim(text), ' ')) AS BIGINT)
         |           AS toks
         |  FROM documents),
         |tagged AS (
         |  SELECT d.doc_id, d.toks,
         |         l.cluster_id IS NOT NULL AND d.doc_id <> c.canon
         |           AS is_dup
         |  FROM docs_t d
         |  LEFT JOIN labels l ON l.doc_id = d.doc_id
         |  LEFT JOIN canon c ON c.cluster_id = l.cluster_id),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_dup_docs,
         |         CAST(sum(toks) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN is_dup THEN toks ELSE 0 END)
         |              AS BIGINT) AS n_dup_tokens
         |  FROM tagged)
         |SELECT n_docs, n_dup_docs, n_tokens, n_dup_tokens,
         |       round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6)
         |         AS doc_savings,
         |       round(CAST(n_dup_tokens AS DOUBLE) / n_tokens, 6)
         |         AS token_savings
         |FROM agg""".stripMargin),
    QueryDef("q258_cluster_sizes", q258ClusterSizes _,
      s"""WITH RECURSIVE $closureCtes,
         |labels AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |csizes AS (
         |  SELECT cluster_id, count(*) AS size FROM labels GROUP BY 1),
         |hist AS (
         |  SELECT CAST(size AS BIGINT) AS size, count(*) AS n_clusters,
         |         CAST(size * count(*) AS BIGINT) AS n_docs
         |  FROM csizes GROUP BY size),
         |tot AS (SELECT count(*) AS n_total FROM documents),
         |cd AS (SELECT COALESCE(CAST(sum(n_docs) AS BIGINT), 0)
         |         AS n_clustered FROM hist),
         |full_h AS (
         |  SELECT size, n_clusters, n_docs FROM hist
         |  UNION ALL
         |  SELECT 1,
         |         (SELECT n_total FROM tot) - (SELECT n_clustered FROM cd),
         |         (SELECT n_total FROM tot) - (SELECT n_clustered FROM cd))
         |SELECT size, n_clusters, n_docs,
         |       round(CAST(n_docs AS DOUBLE)
         |             / (SELECT n_total FROM tot), 6) AS doc_share
         |FROM full_h ORDER BY size""".stripMargin),
    QueryDef("q73_dedup_clusters", q73DedupClusters _,
      s"""WITH RECURSIVE $closureCtes
         |SELECT u AS doc_id,
         |       least(u, min(v)) AS cluster_id,
         |       u = least(u, min(v)) AS is_canonical
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin),
    // q73's closure + q39's quality formula: canonical = per-cluster
    // argmax(quality), lowest-id tie-break
    QueryDef("q115_cluster_canonical", q115ClusterCanonical _,
      s"""WITH RECURSIVE $closureCtes,
         |members AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |qual AS (
         |  SELECT doc_id,
         |         round(ln(1.0 + n_words)
         |               * (1.0 - CAST(n_stopwords AS DOUBLE) / n_words), 6)
         |           AS quality
         |  FROM (
         |    SELECT doc_id,
         |           len(string_split(trim(text), ' ')) AS n_words,
         |           CAST((length(p) - length(replace(p, ' the ', ''))) / 5
         |                + (length(p) - length(replace(p, ' a ', ''))) / 3
         |                AS INT) AS n_stopwords
         |    FROM (SELECT doc_id, text, ' ' || text || ' ' AS p
         |          FROM documents))),
         |ranked AS (
         |  SELECT m.cluster_id, m.doc_id, q.quality,
         |         row_number() OVER (PARTITION BY m.cluster_id
         |                            ORDER BY q.quality DESC, m.doc_id)
         |           AS rn,
         |         count(*) OVER (PARTITION BY m.cluster_id) AS n_members
         |  FROM members m JOIN qual q USING (doc_id))
         |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
         |       doc_id AS canonical_id, quality AS best_quality
         |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin),
    // q73's recursive closure + the documents source column: clusters
    // spanning a source pair counted once per pair
    QueryDef("q126_cross_source_dup", q126CrossSourceDup _,
      s"""WITH RECURSIVE $closureCtes,
         |members AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |cs AS (
         |  SELECT DISTINCT m.cluster_id, d.source
         |  FROM members m JOIN documents d USING (doc_id))
         |SELECT a.source AS src_a, b.source AS src_b,
         |       count(*) AS n_shared_clusters
         |FROM cs a JOIN cs b
         |  ON a.cluster_id = b.cluster_id AND a.source <= b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
