package graft

import org.apache.spark.sql.functions._

import graft.operators.{Drift => D}

/** q151 — the PSI drift monitor pinned against an independent Scala
  * recompute, plus the drifted/identity branches of the PSI core. */
class DriftSpec extends SparkTestBase {

  test("q151 matches an independent PSI recompute on the time-split") {
    val rows = graft.sources.Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_type"),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val cut = (rows.map(_._1).min + rows.map(_._1).max) / 2
    val (ref, cur) = rows.partition(_._1 < cut)
    def psi(refC: Map[Any, Long], curC: Map[Any, Long]): Double = {
      val buckets = (refC.keySet ++ curC.keySet).toSeq
      val (tr, tc) = (refC.values.sum, curC.values.sum)
      val b = buckets.size
      buckets.map { k =>
        val pr = (refC.getOrElse(k, 0L) + 1.0) / (tr + b)
        val pc = (curC.getOrElse(k, 0L) + 1.0) / (tc + b)
        (pc - pr) * math.log(pc / pr)
      }.sum
    }
    // categorical: event_type frequencies
    def typeCounts(xs: Array[(Long, String, Double)]): Map[Any, Long] =
      xs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val typePsi = r6(psi(typeCounts(ref), typeCounts(cur)))
    // continuous: ref-decile buckets (type-7 interpolation like
    // Spark percentile / DuckDB quantile_cont), edges rounded to 6
    val sorted = ref.map(_._3).sorted
    val edges = D.DecileProbes.map { p =>
      val pos = p * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      r6(sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo)))
    }
    def vBucket(v: Double): Any = edges.count(e => v >= e)
    def vCounts(xs: Array[(Long, String, Double)]): Map[Any, Long] =
      xs.groupBy(t => vBucket(t._3)).view.mapValues(_.length.toLong).toMap
    val valuePsi = r6(psi(vCounts(ref), vCounts(cur)))
    def verdict(p: Double): String =
      if (p < 0.1) "stable" else if (p < 0.25) "moderate" else "drifted"
    val expected = Seq(
      ("event_type", typePsi, verdict(typePsi), ref.length.toLong,
        cur.length.toLong),
      ("value", valuePsi, verdict(valuePsi), ref.length.toLong,
        cur.length.toLong))
    val got = D.q151PsiDrift(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, s"PSI diverges:\n got=$got\n exp=$expected")
    // the synthetic stream is stationary by construction: the monitor's
    // steady-state is all-stable
    assert(got.forall(_._3 == "stable"))
  }

  test("PSI core: identical batches score ~0; a shifted distribution " +
      "crosses the drifted threshold") {
    import spark.implicits._
    val refCounts = Seq(("a", 100L), ("b", 100L), ("c", 100L))
      .toDF("bucket", "n")
    val same = D.psiOf(refCounts, refCounts).collect().head.getDouble(0)
    assert(math.abs(same) < 1e-12, s"identity PSI $same")
    // mass collapses from c onto a: the classic drifted shape
    val shifted = Seq(("a", 190L), ("b", 100L), ("c", 10L))
      .toDF("bucket", "n")
    val drifted = D.psiOf(refCounts, shifted).collect().head.getDouble(0)
    assert(drifted >= 0.25, s"expected drifted, PSI $drifted")
    // PSI is symmetric in this formulation
    val rev = D.psiOf(shifted, refCounts).collect().head.getDouble(0)
    assert(math.abs(rev - drifted) < 1e-12)
  }

  test("streaming drift ledger: stable batch then drifted batch, " +
      "idempotent under replay") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    // reference profile: uniform over three event types
    val ref = Seq(("click", 100L), ("view", 100L), ("purchase", 100L))
      .toDF("bucket", "n")
    withTempDir("drift_ledger") { path =>
      val sink = path.toString
      val input = MemoryStream[Ev]
      val q = input.toDF().writeStream
        .foreachBatch(D.driftLedgerBatch(ref, sink) _)
        .option("checkpointLocation", s"$sink/__ckpt")
        .start()
      def ev(tp: String, i: Int): Ev =
        Ev(Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"),
          i.toLong, tp, 1.0)
      try {
        // batch 0: same uniform shape as the reference -> stable
        input.addData((1 to 30).flatMap(i =>
          Seq(ev("click", i), ev("view", i), ev("purchase", i))))
        q.processAllAvailable()
        // batch 1: everything collapses onto one type -> drifted
        input.addData((1 to 90).map(i => ev("click", i)))
        q.processAllAvailable()
      } finally q.stop()
      val ledger = spark.read.parquet(sink + "/batch=0", sink + "/batch=1")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).sortBy(_._1)
      assert(ledger.length == 2)
      assert(ledger(0) == (0L, 90L, "stable"), s"batch 0: ${ledger(0)}")
      assert(ledger(1)._1 == 1L && ledger(1)._2 == 90L &&
        ledger(1)._3 == "drifted", s"batch 1: ${ledger(1)}")
      // replay idempotence: re-running a batch rewrites the identical
      // ledger row, never duplicates it
      val b1Before = spark.read.parquet(sink + "/batch=1").count()
      D.driftLedgerBatch(ref, sink)(
        (1 to 90).map(i => ev("click", i)).toDF(), 1L)
      val b1After = spark.read.parquet(sink + "/batch=1").count()
      assert(b1Before == 1 && b1After == 1)
    }
  }
}
