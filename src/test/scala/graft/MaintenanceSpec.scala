package graft

import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Small-file compaction and partition expiry: storage changes, data
  * contracts. */
class MaintenanceSpec extends SparkTestBase {

  test("compact bin-packs a fragmented table and preserves the multiset") {
    withTempDir("graft_maint_compact") { path =>
      val tmp = path.toString
      val src = s"$tmp/fragmented"
      // simulate incremental-sink accretion: 64 tiny files
      val docs = graft.sources.Tables.documents(spark, sf)
      docs.repartition(64).write.mode("overwrite").parquet(src)
      val fpBefore = Maintenance.contentFingerprint(spark.read.parquet(src))
      val report = Maintenance.compact(spark, src, s"$tmp/compacted",
        targetBytes = 512 * 1024)
      assert(report.filesBefore == 64, s"expected 64 input files: $report")
      // bin-packing math: ceil(bytes/target) outputs, strictly fewer files
      val expectedOut =
        math.max(1L, (report.bytesBefore + 512 * 1024 - 1) / (512 * 1024))
      assert(report.filesAfter == expectedOut, s"bin count: $report")
      assert(report.filesAfter < report.filesBefore, s"no shrink: $report")
      assert(report.rowsBefore == report.rowsAfter, s"row loss: $report")
      // the real invariant: content multiset unchanged (order-free)
      val fpAfter =
        Maintenance.contentFingerprint(spark.read.parquet(s"$tmp/compacted"))
      assert(fpBefore == fpAfter, "content fingerprint changed")
    }
  }

  test("contentFingerprint detects a lost row") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    val fpAll = Maintenance.contentFingerprint(docs)
    val fpDropped = Maintenance.contentFingerprint(
      docs.filter(col("doc_id") =!= docs.select(min(col("doc_id")))
        .collect().head.getLong(0)))
    assert(fpAll != fpDropped)
  }

  test("expirePartitions drops only expired day dirs, keeps data intact") {
    withTempDir("graft_maint_expire") { path =>
      val tmp = path.toString
      val table = s"$tmp/events_by_day"
      val ev = graft.sources.Tables.events(spark, sf)
        .withColumn("day", datediff(to_date(col("ts")), lit("2024-01-01")))
        // drop the raw ts: this layout is the retention-managed archive
        .select("day", "event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("day").parquet(table)
      val allDays = ev.select("day").distinct().collect()
        .map(_.getInt(0).toLong).sorted.toSeq
      val cutoff = allDays(allDays.length / 2)
      val expectedRemain = ev.filter(col("day") >= cutoff)
      val fpExpected = Maintenance.contentFingerprint(expectedRemain)
      val nExpected = expectedRemain.count()
      val (expired, kept) = Maintenance.expirePartitions(table, "day", cutoff)
      assert(expired == allDays.filter(_ < cutoff), "expired set")
      assert(kept == allDays.filter(_ >= cutoff), "kept set")
      // read-back: exactly the retained rows, partition values restored
      // from the path (no data file of an expired day was needed or read)
      val back = spark.read.parquet(table)
        .select("day", "event_id", "user_id", "event_type", "value")
      assert(back.count() == nExpected)
      assert(Maintenance.contentFingerprint(back) == fpExpected)
    }
  }

  test("expirePartitions with a cutoff below all data is a no-op") {
    withTempDir("graft_maint_noop") { path =>
      val tmp = path.toString
      val table = s"$tmp/t"
      graft.sources.Tables.region(spark, sf)
        .withColumn("day", col("r_regionkey") + 100)
        .write.mode("overwrite").partitionBy("day").parquet(table)
      val before = Maintenance.contentFingerprint(spark.read.parquet(table))
      val (expired, kept) = Maintenance.expirePartitions(table, "day", 0L)
      assert(expired.isEmpty && kept.nonEmpty)
      assert(Maintenance.contentFingerprint(spark.read.parquet(table)) == before)
    }
  }
}
