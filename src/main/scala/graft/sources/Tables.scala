package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed readers for the driver testdata (`/root/repo/TESTDATA.md`).
  *
  * Schemas are declared explicitly (not inferred) so that:
  *   - scans skip footer-based schema merging on wide multi-file tables,
  *   - column pruning / predicate pushdown operate on stable types,
  *   - the 100 TB deployment can swap the path for a partitioned table root
  *     without touching call sites.
  *
  * Role mapping to the reference's pharma star schema (SURVEY.md §7.1):
  * salestxn -> lineitem/orders (fact), products -> part, customers ->
  * customer, reps -> supplier, country/region -> nation/region. The [EXT]
  * tables `events`, `documents`, `embeddings` back the streaming / text /
  * similarity operators mandated by BASELINE.json.
  */
object Tables {

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  // The events table's `ts` physical encoding is DRIVER-OWNED and has
  // changed across testdata generations (TIMESTAMP(NANOS) -> logical
  // timestamp[us]). The reader therefore derives the decode from the
  // file's actual footer type (see [[eventsDecoder]]) instead of
  // assuming one encoding — a reader that silently misinterprets a
  // changed physical type is unshippable against 100 TB of
  // third-party-produced parquet. Two encodings are accepted:
  //   - logical TIMESTAMP (us/ms, TZ or NTZ): Spark resolves it; `ts`
  //     is declared TimestampType and read as-is ([[eventsSchema]]);
  //   - legacy TIMESTAMP(NANOS): under
  //     spark.sql.legacy.parquet.nanosAsLong=true (set in every session
  //     builder of this project) Spark surfaces the raw nanos Long
  //     ([[eventsRawSchema]]); the reader truncates to microseconds,
  //     which matches DuckDB's CAST(ts AS TIMESTAMP) oracle semantics.
  // Anything else fails loudly AT THE SOURCE, not in downstream hashes.
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `dir` as an identifier suffix, for catalog and temp-view names
    * that must not collide between calls on different dirs. */
  def nameTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]+", "_")

  private def read(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "region", regionSchema)
  def nation(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "nation", nationSchema)
  def customer(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "customer", customerSchema)
  def supplier(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "supplier", supplierSchema)
  def part(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "part", partSchema)
  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem", lineitemSchema)

  /** Sniffed decode recipe for an events parquet path: the read schema
    * to declare plus the normalizing transform, derived from the file's
    * actual logical type. Shared by the batch reader ([[events]]) and
    * the file streaming source (`Streams.eventsStream`), which needs
    * the schema up front.
    *
    * The sniff reads footers under `mergeSchema` — a MIXED directory
    * (legacy nanos files alongside logical-timestamp files, the shape
    * a lake mid-encoding-migration has) merges Long with Timestamp,
    * conflicts, and fails loudly HERE, where a single-footer sample
    * would pick one recipe and silently misdecode the other files
    * 1000x. The footer pass is one job, cached per (session, path) —
    * ~25 operator call sites re-enter this per run and the encoding
    * cannot change within a session. An EMPTY source directory (the
    * streaming bootstrap: query started before the first file lands)
    * cannot be sniffed and defaults to the current logical-timestamp
    * encoding; a later file in the legacy long encoding then fails
    * loudly at read time (schema mismatch), never silently rescaled.
    * A present-but-`ts`-less schema is the same drift class as an
    * unknown encoding and throws the same IllegalStateException. */
  def eventsDecoder(spark: SparkSession, path: String)
      : (StructType, DataFrame => DataFrame) = {
    val actual: DataType =
      DfCache.value(spark, s"events_ts_type|$path") {
        scala.util.Try(
          spark.read.option("mergeSchema", "true").parquet(path).schema
        ) match {
          case scala.util.Failure(e)
              if e.getMessage != null &&
                e.getMessage.toLowerCase.contains("merge") =>
            throw new IllegalStateException(
              s"events at $path mixes incompatible ts encodings across " +
              "files (e.g. legacy nanos longs next to logical " +
              "timestamps) — refusing to pick one decode for a mixed " +
              s"directory: ${e.getMessage}", e)
          case scala.util.Failure(_) => TimestampType // empty dir bootstrap
          case scala.util.Success(schema) =>
            schema.find(_.name == "ts").map(_.dataType).getOrElse(
              throw new IllegalStateException(
                s"events at $path has unsupported parquet type " +
                s"(no `ts` column; found ${schema.fieldNames.mkString(", ")})"))
        }
      }
    actual match {
      case TimestampType =>
        (eventsSchema, identity[DataFrame] _)
      case TimestampNTZType =>
        // isAdjustedToUTC=false files: read as NTZ exactly as annotated,
        // then cast — with the project-wide UTC session timezone this is
        // the same instant DuckDB's naive-timestamp oracle reads
        (StructType(eventsSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f)),
          (df: DataFrame) => df.withColumn("ts", col("ts").cast(TimestampType)))
      case LongType => // legacy TIMESTAMP(NANOS) under nanosAsLong
        (eventsRawSchema,
          (df: DataFrame) =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000"))))
      case other => throw new IllegalStateException(
        s"events.ts at $path has unsupported parquet type $other; " +
        "expected a logical TIMESTAMP or INT64 TIMESTAMP(NANOS) read as " +
        "Long under spark.sql.legacy.parquet.nanosAsLong — refusing to " +
        "guess a decode for an unrecognized physical encoding")
    }
  }

  /** Events with `ts` normalized to TimestampType (microsecond
    * precision — identical to the oracle's CAST(ts AS TIMESTAMP))
    * regardless of the file's physical encoding. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val (schema, normalize) = eventsDecoder(spark, path)
    normalize(spark.read.schema(schema).parquet(path))
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents", documentsSchema)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings", embeddingsSchema)
}
