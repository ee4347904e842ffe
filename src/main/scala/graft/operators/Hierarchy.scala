package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** [EXT] hierarchical (recursive) rollup — the BOM / org-chart /
  * category-tree operator class: aggregate every node's SUBTREE, then
  * ratio each node to its parent. The reference's rollups (q17–q19
  * GROUPING SETS) aggregate fixed LEVELS of independent columns; a
  * hierarchy nests along ONE key, unboundedly deep, which grouping
  * sets cannot express and engines usually reach for recursive CTEs.
  *
  * Distributed shape: recursion is replaced by PATH ENUMERATION — each
  * leaf emits one row per ancestor (here the ancestor set has a closed
  * digit form: parent(h) = h div 10, so ancestors are the ≤7 decimal
  * prefixes, generated by a transform over a LITERAL divisor array, no
  * pow()), then ONE groupBy(ancestor) folds every subtree in a single
  * shuffle. Fan-out = tree depth = O(log n): 100 TB of leaves costs
  * depth× the scan, not rounds× like frontier iteration (q145's BFS) —
  * the right trade when the hierarchy is shallow and the fact table is
  * huge, which is the warehouse case. Money stays integer cents until
  * the final parent ratio — a single division of exact sub-2^53 ints,
  * bit-identical cross-engine.
  */
object Hierarchy {

  /** Decimal-prefix divisors: ancestors of hid are hid div d for d in
    * this LITERAL array (no pow() — the q154 lesson), filtered ≥ 1. */
  private[graft] val Divisors: Seq[Long] =
    Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)

  /** q161 — subtree rollup + percent-of-parent over the part hierarchy
    * (hid = p_partkey + 1; parent = hid div 10; roots 1–9). For every
    * node of depth ≤ 1 (hid ≤ 99): descendant-part count, subtree
    * retail value in exact cents, and the node's share of its parent's
    * subtree. The depth cap bounds the REPORT, not the rollup — the
    * groupBy aggregates the full tree, and deeper report cuts are the
    * same filter on `anc`. */
  def q161HierarchyRollup(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .select((col("p_partkey") + 1).as("hid"),
        expr("cast(round(p_retailprice * 100, 0) as bigint)").as("cents"))
    val contrib = parts.select(col("cents"), explode(expr(
      s"""filter(transform(array(${Divisors.mkString("L, ")}L),
         |                 d -> hid div d), a -> a >= 1)""".stripMargin))
      .as("anc"))
    // checkpointed: the report and its parent lookup are both slices of
    // this ≤100-row table — without it each side would replay the FULL
    // path-enumeration scan (two 100 TB scans instead of one)
    val rollup = contrib.groupBy("anc")
      .agg(count(lit(1)).as("n_desc"), sum(col("cents")).as("subtree_cents"))
      .filter(col("anc") <= 99)
      .localCheckpoint()
    val parents = rollup.select(col("anc").as("p_anc"),
      col("subtree_cents").as("parent_cents"))
    rollup
      .withColumn("parent", when(col("anc") >= 10, expr("anc div 10")))
      .join(broadcast(parents), col("parent") === col("p_anc"), "left_outer")
      .select(col("anc").as("hid"),
        when(col("anc") >= 10, 1).otherwise(0).as("depth"),
        col("n_desc"), col("subtree_cents"),
        round(col("subtree_cents").cast("double") / col("parent_cents"), 6)
          .as("pct_of_parent"))
      .orderBy("hid")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q161_hierarchy_rollup", q161HierarchyRollup _,
      s"""WITH parts AS (
         |  SELECT p_partkey + 1 AS hid,
         |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
         |  FROM part),
         |contrib AS (
         |  SELECT hid // d AS anc, cents
         |  FROM parts, (SELECT unnest([${Divisors.mkString(", ")}]) AS d)
         |  WHERE hid // d >= 1),
         |rollup AS (
         |  SELECT anc, count(*) AS n_desc,
         |         CAST(sum(cents) AS BIGINT) AS subtree_cents
         |  FROM contrib GROUP BY 1)
         |SELECT r.anc AS hid,
         |       CASE WHEN r.anc >= 10 THEN 1 ELSE 0 END AS depth,
         |       r.n_desc, r.subtree_cents,
         |       round(CAST(r.subtree_cents AS DOUBLE) / p.subtree_cents, 6)
         |         AS pct_of_parent
         |FROM rollup r
         |LEFT JOIN rollup p ON p.anc = r.anc // 10 AND r.anc >= 10
         |WHERE r.anc <= 99
         |ORDER BY hid""".stripMargin))
}
