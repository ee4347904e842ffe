package graft

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
    "q350_retrieval_exposure" -> Seq(Row(0L, 0L, null, null, null)))

  /** The zero-row `documents` and `embeddings` tables, in `dir`. */
  private def writeEmpty(dir: String): Unit = {
    def write(table: String, schema: StructType): Unit =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .write.parquet(s"$dir/$table.parquet")
    write("documents", Tables.documentsSchema)
    write("embeddings", Tables.embeddingsSchema)
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
