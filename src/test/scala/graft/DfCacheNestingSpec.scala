package graft

import org.apache.spark.sql.functions._

import graft.sources.DfCache

/** Pins the DfCache build-timing attribution contract Bench relies on
  * (ADVICE r14): NESTED builds record DISJOINT wall windows. The inner
  * `df()` call runs while the outer BUILDER expression is evaluated —
  * before the outer's persist/count window opens — and the inner's
  * count() materializes every persisted partition, so the outer's timed
  * count() only reads cached blocks. If containment ever crept in (an
  * outer window swallowing an inner build), Bench's per-query
  * sum-subtraction would over-subtract and its setup rows would
  * double-count — this spec is the tripwire. */
class DfCacheNestingSpec extends SparkTestBase {

  test("nested build windows are disjoint: the outer's recorded " +
      "seconds exclude the inner build's sleep") {
    val sess = spark
    import sess.implicits._
    DfCache.enableBuildTiming()
    try {
      DfCache.drainBuildTimes(spark) // discard any stale entries
      val outer = DfCache.df(spark, "nestspec_outer|t") {
        val inner = DfCache.df(spark, "nestspec_inner|t") {
          // the sleep runs inside the INNER build's timed count();
          // once persisted, re-reads never pay it again
          spark.range(1).map { x => Thread.sleep(800L); x }.toDF("v")
        }
        inner.select((col("v") + 1).as("w"))
      }
      assert(outer.collect().map(_.getLong(0)).toSeq == Seq(1L))
      val times = DfCache.drainBuildTimes(spark)
      assert(times.keySet == Set("nestspec_outer|t", "nestspec_inner|t"),
        s"unexpected build keys: ${times.keySet}")
      val in = times("nestspec_inner|t")
      val out = times("nestspec_outer|t")
      assert(in >= 0.7, s"inner build should carry the sleep, got $in s")
      // the outer count reads ONE cached row; even under heavy host
      // noise it must not contain the inner's 0.8s sleep
      assert(out < in / 2,
        s"outer window ($out s) must exclude the inner build ($in s)")
    } finally {
      DfCache.disableBuildTiming()
      DfCache.clear(spark)
      DfCache.drainBuildTimes(spark)
    }
  }

  test("a timed build started inside a timedValue build fails with a " +
      "named require, and the failed gate caches nothing") {
    try {
      val err = intercept[IllegalArgumentException] {
        DfCache.timedValue(spark, "nestspec_gate|t") {
          DfCache.timedValue(spark, "nestspec_inner_gate|t")(1)
        }
      }
      assert(err.getMessage.contains("started inside another timed build"))
      // the flag is cleared on the way out: the same gates built one
      // after the other on this thread succeed
      assert(DfCache.timedValue(spark, "nestspec_inner_gate|t")(1) == 1)
      assert(DfCache.timedValue(spark, "nestspec_gate|t")(2) == 2)
    } finally DfCache.clear(spark)
  }
}
