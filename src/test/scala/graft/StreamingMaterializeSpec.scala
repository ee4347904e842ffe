package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Materialize}
import graft.streaming.Streams

/** Streaming twin of q389's incremental prefix (VERDICT r14 #8
  * stretch): raw documents fed in micro-batches — deliberately OUT OF
  * doc_id ORDER — through `mapGroupsWithState` must hold per-text-hash
  * (canonical, tallies) state whose folded data card (rows_in, gate
  * rows_out/tokens, exact-dedup rows_out/tokens) is bit-equal to a
  * driver replay of the batch stage semantics over the fed prefix
  * after EVERY batch, and whose final card reproduces the registered
  * q389 `1_gate` / `2_exact_dedup` stage rows — proving the
  * materialization pipeline's front half is incrementally maintainable
  * with O(distinct texts) state and no corpus re-scan. */
class StreamingMaterializeSpec extends SparkTestBase {

  test("mapGroupsWithState gate+exact-dedup card equals a driver " +
      "replay per batch (out-of-order feed) and the final card " +
      "matches the registered q389 stage rows") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext

    val docs = graft.sources.Tables.documents(spark, sf)
    val raw = docs
      .select(col("doc_id").cast("long"), col("text"),
        col("n_chars").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // batch gate truth (the oracle-checked q383 exprs), keyed by doc
    val gates = Curation.funnelGateCols(docs)
      .select(col("doc_id").cast("long"), md5(col("text")),
        col("n_words"),
        col("r1") && col("r2") && col("r3") && col("r4") && col("r5"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap

    // out-of-order arrival: DESCENDING doc_id chunks — min-canonical
    // state must still match the batch min-doc_id semantics per prefix
    val chunks = raw.sortBy(_._1)
      .grouped(math.max(1, raw.length / 4)).toSeq.reverse
    val input = MemoryStream[(Long, String, Long)]
    val q = Streams.runningMaterializeCard(
        input.toDF().toDF("doc_id", "text", "n_chars"))
      .toDF("th", "canon_id", "canon_tokens", "n_seen", "n_gate",
        "t_gate")
      .writeStream.format("memory").queryName("mat_t")
      .outputMode("update").start()
    try {
      // th -> (canon_id, canon_tokens, n_seen, n_gate, t_gate)
      val state = scala.collection.mutable.Map
        .empty[String, (Long, Long, Long, Long, Long)]
      val fed = scala.collection.mutable.ArrayBuffer.empty[Long]
      def card = (state.values.map(_._3).sum,
        state.values.map(_._4).sum,
        state.values.map(_._5).sum,
        state.values.count(_._1 >= 0L).toLong,
        state.values.filter(_._1 >= 0L).map(_._2).sum)
      chunks.foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        sess.table("mat_t").collect().foreach { r =>
          val k = r.getString(0)
          // n_seen is strictly increasing per key: latest wins
          if (state.get(k).forall(_._3 <= r.getLong(3)))
            state(k) = (r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getLong(5))
        }
        fed ++= chunk.map(_._1)
        // driver replay of the batch stage semantics over the prefix
        val passed = fed.filter(id => gates(id)._3)
        val canon = passed.groupBy(id => gates(id)._1)
          .map { case (_, ids) => ids.min }
        val expect = (fed.size.toLong, passed.size.toLong,
          passed.map(id => gates(id)._2).sum, canon.size.toLong,
          canon.map(id => gates(id)._2).sum)
        assert(card == expect, s"card parity after ${fed.size} docs")
      }
      // final card == the registered q389 stage rows
      val stages = Materialize.q389TrainingMaterialization(spark, sf)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val (rowsIn, nGate, tGate, nExact, tExact) = card
      assert(stages("1_gate") == ((rowsIn, nGate, tGate)),
        "1_gate stage row")
      assert(stages("2_exact_dedup") == ((nGate, nExact, tExact)),
        "2_exact_dedup stage row")
    } finally q.stop()
  }
}
