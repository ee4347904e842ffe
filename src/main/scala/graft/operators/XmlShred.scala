package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** XML document shredding (SURVEY.md §2.1 S1-S3): the reference's whole
  * stage 1 is XPath extraction of nested pharma XML into relational rows
  * (`LoadXML2DB.ChatterjeeP.R:100-135,175-195`). In-engine the same
  * semantics are Spark's built-in `xpath_*` expressions — per-row libxml
  * walks become codegen'd columnar extraction; document corpora shard
  * across executors with no driver involvement (the R version
  * materializes every DOM on one heap).
  *
  * q48 proves the full round-trip: rows -> XML documents (with both
  * element text and an ATTRIBUTE, covering S2+S3) -> XPath shred ->
  * aggregate. Since shred(build(x)) == x, the DuckDB oracle states the
  * same aggregate over the base table — any loss/mangling in the XML
  * path breaks the hash match.
  */
object XmlShred {

  /** Orders rendered as XML txn documents, reference shape
    * (FIXTURES.md §A.1): attribute id + element children. */
  def ordersAsXml(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      concat(
        lit("<txn id=\""), col("o_orderkey"), lit("\">"),
        lit("<cust>"), col("o_custkey"), lit("</cust>"),
        lit("<status>"), col("o_orderstatus"), lit("</status>"),
        lit("<total>"), col("o_totalprice"), lit("</total>"),
        lit("<priority>"), col("o_orderpriority"), lit("</priority>"),
        lit("</txn>")).as("xml"))

  /** Shred the XML back to typed columns with ONE parse per document
    * (`from_xml` -> struct, then field access), covering S3 attribute
    * access (`_id`) and S2 child extraction. Per-column `xpath_*` calls
    * would re-parse the DOM once per column — 5x the cost at 100 TB; the
    * XPath-expression surface itself is exercised in XmlIngestSpec on
    * the reference's reps document shape. */
  private val txnSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "`_id` BIGINT, cust BIGINT, status STRING, total DOUBLE, priority STRING")

  def shred(xmlDf: DataFrame): DataFrame =
    xmlDf
      .select(from_xml(col("xml"), txnSchema).as("t"))
      .select(
        col("t._id").as("orderkey"),
        col("t.cust").as("custkey"),
        col("t.status").as("status"),
        col("t.total").as("total"),
        col("t.priority").as("priority"))

  /** q48 — XML build + XPath shred round-trip, aggregated. */
  def q48XmlShred(spark: SparkSession, dir: String): DataFrame =
    shred(ordersAsXml(spark, dir))
      .groupBy(col("status"), col("priority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("total")), 2).as("total_price"),
           countDistinct(col("custkey")).as("n_customers"))
      .orderBy("status", "priority")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q48_xml_shred", q48XmlShred _,
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total_price,
        |       count(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
}
