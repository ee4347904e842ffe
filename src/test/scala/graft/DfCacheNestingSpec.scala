package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.DfCache

/** Pins the DfCache contracts Bench and every other route rely on:
  * `df` returns a frame whose partitions are already cached, and every
  * build records its SELF time. Nested builds (df in df, value in df,
  * df in value) each record their own seconds without the inner
  * build's, so the keys of one nest sum to its outer wall time and
  * Bench's per-query sum-subtraction counts every second exactly once.
  * A build that throws caches and records nothing; its seconds stay
  * with the build around it. */
class DfCacheNestingSpec extends SparkTestBase {

  // runs first in this suite: no other suite turns build timing on, so
  // this shows the eager build without it
  test("df returns a materialized frame with build timing off: every " +
      "partition is cached when it returns") {
    try {
      val built = DfCache.df(spark, "nestspec_eager|t")(
        spark.range(0, 1000, 1, 4).toDF("v"))
      val rddId = built.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r }
        .getOrElse(fail("df did not register a cached relation"))
        .cacheBuilder.cachedColumnBuffers.id
      val info = spark.sparkContext.getRDDStorageInfo.find(_.id == rddId)
        .getOrElse(fail(s"no stored partition of rdd $rddId after df"))
      assert(info.numPartitions == 4)
      assert(info.numCachedPartitions == info.numPartitions,
        s"${info.numCachedPartitions} of ${info.numPartitions} cached")
    } finally DfCache.clear(spark)
  }

  /** Runs `build` with build timing on; returns its result, its wall
    * seconds and the build times it recorded. `check` runs on the
    * result before the cache is cleared. */
  private def timedBuilds[T](build: => T)(check: T => Unit)
      : (Double, Map[String, Double]) = {
    DfCache.enableBuildTiming()
    DfCache.drainBuildTimes(spark) // discard any stale entries
    try {
      val t0 = System.nanoTime()
      val v = build
      val wall = (System.nanoTime() - t0) / 1e9
      val times = DfCache.drainBuildTimes(spark)
      check(v)
      (wall, times)
    } finally {
      DfCache.clear(spark)
      DfCache.drainBuildTimes(spark)
    }
  }

  /** A one-row frame whose single task sleeps `ms` when it runs. */
  private def sleepyFrame(ms: Long): DataFrame = {
    val sess = spark
    import sess.implicits._
    spark.range(1).map { x => Thread.sleep(ms); x }.toDF("v")
  }

  /** The inner build carries an 800 ms sleep, and the outer's recorded
    * seconds must exclude it: outer plus inner is the wall time of the
    * outer build (an outer that kept the sleep would sum to wall + 0.8). */
  private def assertSelfTimes[T](outer: String, inner: String)(
      build: => T)(check: T => Unit): Unit = {
    val (wall, times) = timedBuilds(build)(check)
    assert(times.keySet == Set(outer, inner),
      s"unexpected build keys: ${times.keySet}")
    val (in, out) = (times(inner), times(outer))
    assert(in >= 0.75, s"inner build should carry the sleep, got $in s")
    assert(in + out <= wall && in + out > wall - 0.1,
      s"recorded $in + $out s against $wall s of outer wall time")
  }

  test("nested build windows are disjoint: the outer's recorded " +
      "seconds exclude the inner build's sleep") {
    assertSelfTimes("nestspec_outer|t", "nestspec_inner|t") {
      DfCache.df(spark, "nestspec_outer|t") {
        DfCache.df(spark, "nestspec_inner|t")(sleepyFrame(800L))
          .select((col("v") + 1).as("w"))
      }
    }(outer => assert(outer.collect().map(_.getLong(0)).toSeq == Seq(1L)))
  }

  test("a value built inside a df build records its own seconds") {
    assertSelfTimes("nestspec_df|t", "nestspec_val|t") {
      DfCache.df(spark, "nestspec_df|t") {
        val n = DfCache.value(spark, "nestspec_val|t") {
          Thread.sleep(800L); 3L
        }
        spark.range(n).toDF("v")
      }
    }(outer => assert(outer.count() == 3L))
  }

  test("a df built inside a value build records its own seconds") {
    assertSelfTimes("nestspec_val|t", "nestspec_df|t") {
      DfCache.value(spark, "nestspec_val|t") {
        DfCache.df(spark, "nestspec_df|t")(sleepyFrame(800L)).count()
      }
    }(n => assert(n == 1L))
  }

  test("a build that throws caches and records nothing, and the build " +
      "around it keeps the failed build's seconds") {
    val sess = spark
    import sess.implicits._
    val bad = spark.range(1).map { x =>
      Thread.sleep(300L)
      if (x >= 0) throw new IllegalStateException("nestspec boom")
      x
    }.toDF("v")
    val (wall, times) = timedBuilds {
      DfCache.value(spark, "nestspec_around|t") {
        val err = intercept[Exception](
          DfCache.df(spark, "nestspec_fail|t")(bad))
        assert(err.getMessage.contains("nestspec boom"))
        assert(bad.storageLevel == StorageLevel.NONE,
          "the failed df build left its frame persisted")
        7
      }
    } { v =>
      assert(v == 7)
      // nothing was cached under the failed key: it builds again
      assert(DfCache.value(spark, "nestspec_fail|t")(42) == 42)
    }
    // the failed build recorded nothing, so the build around it keeps
    // all of its wall time, the failed task's sleep included
    assert(times.keySet == Set("nestspec_around|t"),
      s"unexpected build keys: ${times.keySet}")
    val around = times("nestspec_around|t")
    assert(around >= 0.29,
      s"the build around the failure should carry its sleep, got $around s")
    assert(around <= wall && around > wall - 0.1,
      s"recorded $around s against $wall s of wall time")
  }
}
