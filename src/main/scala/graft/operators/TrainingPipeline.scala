package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** q53 — composed training-data curation pipeline: the operators of this
  * engine chained the way a 100 TB pretraining-data job chains them:
  *
  *   1. exact dedup (keep canonical doc per identical text),
  *   2. quality gate (word count + stopword-ratio threshold),
  *   3. language gate (marker-based lang-ID == 'en'),
  *   4. per-source token/byte accounting of the surviving corpus.
  *
  * Every stage is a column expression or hash-shuffle — the composition
  * stays one linear scan + two shuffles (dedup groupBy, final agg)
  * regardless of corpus size. The whole pipeline is oracle-checked
  * end-to-end, which pins the inter-stage semantics (what survives each
  * gate), not just each operator in isolation.
  */
object TrainingPipeline {

  def q53CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("text_hash", md5(col("text")))
      .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("n_words", size(split(trim(col("text")), " ")))
      .withColumn("n_the",
        ((length(col("padded")) -
          length(expr("replace(padded, ' the ', '')"))) / 5).cast("int"))
      .withColumn("n_spark",
        ((length(col("padded")) -
          length(expr("replace(padded, ' spark ', '')"))) / 7).cast("int"))
    // stage 1: exact dedup — keep the minimal doc_id per text hash
    val canonical = docs
      .groupBy("text_hash").agg(min(col("doc_id")).as("doc_id"))
      .join(docs, Seq("text_hash", "doc_id"))
    // stage 2+3: quality gate + language gate ('en' iff 'the' beats 'spark')
    val curated = canonical
      .filter(col("n_words") >= 40)
      .filter(col("n_the").cast("double") / col("n_words") <= 0.2)
      .filter(col("n_the") >= col("n_spark"))
    // stage 4: per-source accounting of the surviving corpus
    curated
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("total_tokens"),
           sum(octet_length(col("text"))).as("total_bytes"),
           round(avg(col("n_words")), 6).as("avg_tokens"))
      .orderBy("source")
  }

  /** q122 — length-bucketed batching audit: training jobs pad every
    * sequence in a batch to the batch max, so batching docs of mixed
    * length burns FLOPs on pad tokens. The standard fix is length
    * bucketing: split the corpus at the exact token-count quartiles and
    * batch within buckets. This audits the win — per-bucket padding
    * waste (1 - sum(len) / (n * bucket_max)) vs the unbucketed baseline
    * (the rollup row, bucket = -1, whose max is the GLOBAL max). Scale:
    * one narrow token-count scan, one scalar percentile agg broadcast
    * back as the three bucket edges, one 4-group rollup — no new
    * shuffle class, nothing grows with corpus size but the scan. */
  def q122LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).as("n_tok"))
    val edges = toks.agg(
      expr("percentile(n_tok, 0.25d)").as("q1"),
      expr("percentile(n_tok, 0.5d)").as("q2"),
      expr("percentile(n_tok, 0.75d)").as("q3"))
    val bucketed = toks.crossJoin(broadcast(edges))
      .select(col("n_tok"),
        when(col("n_tok") <= col("q1"), 0)
          .when(col("n_tok") <= col("q2"), 1)
          .when(col("n_tok") <= col("q3"), 2)
          .otherwise(3).as("bucket"))
    // per-bucket rows + the unbucketed baseline row (bucket = -1, whose
    // max is the GLOBAL max): a 4-group agg unioned with a scalar agg
    // over the same tiny (n_tok, bucket) frame
    val aggs = Seq(count(lit(1)).as("n_docs"),
      min(col("n_tok")).as("tok_min"),
      max(col("n_tok")).as("tok_max"),
      sum(col("n_tok")).as("tok_sum"))
    val perBucket = bucketed.groupBy("bucket").agg(aggs.head, aggs.tail: _*)
    val baseline = bucketed.agg(aggs.head, aggs.tail: _*)
      .select(lit(-1).as("bucket"), col("n_docs"), col("tok_min"),
        col("tok_max"), col("tok_sum"))
    perBucket.unionByName(baseline)
      .select(col("bucket"), col("n_docs"), col("tok_min"), col("tok_max"),
        round(col("tok_sum").cast("double") / col("n_docs"), 6)
          .as("tok_avg"),
        round(lit(1.0) - col("tok_sum").cast("double") /
          (col("n_docs") * col("tok_max")), 6).as("padding_waste"))
      .orderBy("bucket")
  }

  /** q220 epochs audited and target docs per shard (the shard count
    * self-scales: n_shards = max(4, n_docs div [[ShardTarget]]), the
    * q200 adaptive-modulus discipline, so per-shard size — and with it
    * every within-shard sort — stays bounded at any corpus size). */
  private[graft] val ShuffleEpochs = 3
  private[graft] val ShardTarget = 100L

  /** q220 — REPRODUCIBLE EPOCH SHUFFLE + sharding audit: the data-order
    * contract of a multi-epoch training run. Epoch e reads documents in
    * order of h = hash("ep:" ‖ e ‖ doc_id) within shard h mod n_shards —
    * a deterministic permutation per epoch (retry-safe, seekable,
    * engine-portable: the q112/q131 hash-race discipline applied to the
    * whole corpus order), with different epochs getting genuinely
    * different orders from the salt. The audit emits, per epoch, the
    * shard-size spread (load balance across data-loader workers) and an
    * order-sensitive checksum Σ rank·doc_id — two runs, or two engines,
    * produce the same bytes in the same order iff these match.
    *
    * Scale shape: one scan × |epochs|, shard assignment is a pure
    * column expression, the within-shard rank is exactly the
    * sortWithinPartitions a shard writer already pays (window
    * partitioned by (epoch, shard); per-partition size is bounded by
    * the self-scaling shard count), and the report folds to |epochs|
    * rows. */
  def q220EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val params = docs.agg(
      greatest(lit(4L), expr(s"count(1) div $ShardTarget")).as("n_shards"))
    val epochs = spark.range(1, ShuffleEpochs + 1)
      .select(col("id").as("epoch"))
    val keyed = docs.crossJoin(broadcast(epochs))
      .crossJoin(broadcast(params))
      .withColumn("h", Hashing.md5Hash60(
        concat(lit("ep:"), col("epoch"), lit(":"), col("doc_id"))))
      .withColumn("shard", pmod(col("h"), col("n_shards")))
    val wS = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    keyed.withColumn("rn", row_number().over(wS))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("sz"),
        sum(col("rn") * col("doc_id")).as("ck"))
      .groupBy("epoch")
      .agg(sum(col("sz")).as("n_docs"),
        count(lit(1)).as("n_shards"),
        min(col("sz")).as("min_shard_docs"),
        max(col("sz")).as("max_shard_docs"),
        sum(col("ck")).as("order_checksum"))
      .orderBy("epoch")
  }

  val defs: Seq[QueryDef] = Seq(
    // exact continuous quartile edges (quantile_cont == Spark
    // percentile); the ROLLUP total row is the unbucketed baseline
    QueryDef("q122_length_buckets", q122LengthBuckets _,
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
        |  FROM documents),
        |edges AS (
        |  SELECT quantile_cont(n_tok, 0.25) AS q1,
        |         quantile_cont(n_tok, 0.50) AS q2,
        |         quantile_cont(n_tok, 0.75) AS q3
        |  FROM toks),
        |bucketed AS (
        |  SELECT CASE WHEN n_tok <= q1 THEN 0
        |              WHEN n_tok <= q2 THEN 1
        |              WHEN n_tok <= q3 THEN 2
        |              ELSE 3 END AS bucket,
        |         n_tok
        |  FROM toks CROSS JOIN edges)
        |SELECT coalesce(bucket, -1) AS bucket,
        |       count(*) AS n_docs,
        |       CAST(min(n_tok) AS INT) AS tok_min,
        |       CAST(max(n_tok) AS INT) AS tok_max,
        |       round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS tok_avg,
        |       round(1.0 - CAST(sum(n_tok) AS DOUBLE)
        |                   / (count(*) * max(n_tok)), 6) AS padding_waste
        |FROM bucketed
        |GROUP BY ROLLUP (bucket)
        |ORDER BY bucket""".stripMargin),
    QueryDef("q53_curation_pipeline", q53CurationPipeline _,
      """WITH docs AS (
        |  SELECT doc_id, text, source, md5(text) AS text_hash,
        |         ' ' || text || ' ' AS padded,
        |         len(string_split(trim(text), ' ')) AS n_words
        |  FROM documents),
        |scored AS (
        |  SELECT *,
        |         CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
        |              AS INT) AS n_the,
        |         CAST((length(padded) - length(replace(padded, ' spark ', ''))) / 7
        |              AS INT) AS n_spark
        |  FROM docs),
        |canonical AS (
        |  SELECT s.* FROM scored s
        |  JOIN (SELECT text_hash, min(doc_id) AS doc_id
        |        FROM scored GROUP BY 1) k
        |    ON s.text_hash = k.text_hash AND s.doc_id = k.doc_id),
        |curated AS (
        |  SELECT * FROM canonical
        |  WHERE n_words >= 40
        |    AND CAST(n_the AS DOUBLE) / n_words <= 0.2
        |    AND n_the >= n_spark)
        |SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |       round(avg(n_words), 6) AS avg_tokens
        |FROM curated
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q220_epoch_shuffle", q220EpochShuffle _,
      s"""WITH p AS (
        |  SELECT greatest(4, count(*) // $ShardTarget) AS n_shards
        |  FROM documents),
        |k AS (
        |  SELECT e.epoch, d.doc_id,
        |         ('0x' || substr(md5('ep:' || CAST(e.epoch AS VARCHAR)
        |                              || ':' || CAST(d.doc_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(1, $ShuffleEpochs))
        |                AS epoch) e),
        |r AS (
        |  SELECT epoch, h % (SELECT n_shards FROM p) AS shard, doc_id,
        |         row_number() OVER (
        |           PARTITION BY epoch, h % (SELECT n_shards FROM p)
        |           ORDER BY h, doc_id) AS rn
        |  FROM k),
        |ps AS (
        |  SELECT epoch, shard, count(*) AS sz,
        |         CAST(sum(rn * doc_id) AS BIGINT) AS ck
        |  FROM r GROUP BY 1, 2)
        |SELECT CAST(epoch AS BIGINT) AS epoch,
        |       CAST(sum(sz) AS BIGINT) AS n_docs,
        |       count(*) AS n_shards,
        |       min(sz) AS min_shard_docs, max(sz) AS max_shard_docs,
        |       CAST(sum(ck) AS BIGINT) AS order_checksum
        |FROM ps GROUP BY epoch ORDER BY epoch""".stripMargin))
}
