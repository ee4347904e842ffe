package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** Registered queries on zero-row fact tables, written at test time to a
  * temp dir (the testdata is read-only). Each query either returns what
  * the DuckDB oracle returns on the same input, or is on [[Refusals]]
  * and fails with that named `require`; a bare crash fails the spec. */
class DegenerateInputSpec extends SparkTestBase {

  /** Queries that refuse a zero-row input by name: query -> message. */
  private val Refusals = Map(
    // no vectors, no direction to extract
    "q162_top_component" -> "empty embedding corpus")

  /** Queries on the empty fixture with the rows their oracle returns. */
  private val Expected = Map(
    // every round's LIMIT 1 picks from an empty table
    "q163_max_cover" -> Seq.empty[Row],
    // no corpus, no exposure: coverage is 0 / 0 and the slot sums are
    // over no rows, all NULL
    "q350_retrieval_exposure" -> Seq(Row(0L, 0L, null, null, null)),
    // no events: every funnel step counts 0 users, and a conversion
    // over a step of 0 users is NULL, as is the first step's
    "q82_funnel" -> Seq("1_view", "2_click", "3_purchase")
      .map(Row(_, 0L, null)),
    // no events, no sketch to read: no heavy hitters
    "q105_topk_sketch_union" -> Seq.empty[Row],
    // no corpus: ten empty buckets, shares of a total of 0 are NULL
    "q357_novelty_curve" -> (0L until 10L).map(Row(_, 0L, 0L, null, null)),
    // no line items: every arm samples and joins 0 rows, and the
    // relative error against 0 actual rows is NULL
    "q381_sample_cardinality" ->
      Seq("part_and_supplier", "part_filter", "supplier_filter")
        .map(Row(_, 0L, 0L, 0L, null)),
    // no documents: only the singleton bucket, with 0 docs, and a share
    // of a total of 0 is NULL
    "q258_cluster_sizes" -> Seq(Row(1L, 0L, 0L, null)),
    // no events: no user reaches any milestone, rates over 0 users and
    // percentiles over no rows are NULL
    "q327_onboarding_velocity" ->
      Seq(2L, 5L, 10L).map(Row(_, 0L, 0L, null, null, null)),
    // no events: no scope has a hash, so no sketch row, not even __all
    "q217_kmv_distinct" -> Seq.empty[Row])

  /** Zero-row fact tables (`events`, `orders`, `lineitem`, `documents`,
    * `embeddings`) in `dir`, next to the dimension tables of [[sf]]. */
  private def writeEmpty(dir: String): Unit = {
    def write(table: String, schema: StructType): Unit =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .write.parquet(s"$dir/$table.parquet")
    write("events", Tables.eventsSchema)
    write("orders", Tables.ordersSchema)
    write("lineitem", Tables.lineitemSchema)
    write("documents", Tables.documentsSchema)
    write("embeddings", Tables.embeddingsSchema)
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"))
  }

  for (q <- (Refusals.keys ++ Expected.keys).toSeq.sorted) {
    test(s"$q on zero-row input: oracle rows or a named refusal") {
      withTempDir("graft_empty") { path =>
        writeEmpty(path.toString)
        val run = () => SparkEntry.queries(q)(spark, path.toString).collect().toSeq
        Refusals.get(q) match {
          case Some(message) =>
            val e = intercept[IllegalArgumentException](run())
            assert(e.getMessage.contains(message), e.getMessage)
          case None => assert(run() == Expected(q))
        }
      }
    }
  }
}
