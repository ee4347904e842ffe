package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

import graft.plans.{GraftExtensions, OneSplitScanStrategy}

/** A batch file scan that Spark reads as one split plans under
  * `CoalesceExec(1)`, so nothing above it shuffles
  * (`OneSplitScanStrategy`); a scan of several splits, a streaming scan
  * and a bucketed scan plan as Spark plans them. */
class OneSplitScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** A session with graft's setup minus the one-split strategy. */
  private lazy val plainSession: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.experimental.extraStrategies =
      s.experimental.extraStrategies.filterNot(_ == OneSplitScanStrategy)
    s
  }

  /** The executed plan, query stages included; call after an action so
    * AQE's plan is final. */
  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def shuffles(df: DataFrame): Int =
    collect(plan(df)) { case e: ShuffleExchangeExec => e }.size

  private def coalesced(df: DataFrame): Int =
    collect(plan(df)) { case c: CoalesceExec => c }.size

  /** An aggregate, a window and a sort over one parquet input. */
  private def summary(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy((col("id") % 7).as("k")).agg(sum("v").as("v"), count(lit(1)).as("n"))
      .withColumn("rank", rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("v").desc)))
      .orderBy("k")

  private def writeInput(dir: String, files: Int): String = {
    val path = s"$dir/input.parquet"
    spark.range(0, 2000, 1, files).select(col("id"), (col("id") % 13 * 0.5).as("v"))
      .write.parquet(path)
    path
  }

  test("q63 runs one job on one-split sf0.001, four without the strategy") {
    val q63 = SparkEntry.queries("q63_value_windows")
    q63(spark, sf).collect(); q63(plainSession, sf).collect()
    val (jobs, rows) = jobsAndRows(q63(spark, sf))
    val (plainJobs, plainRows) = jobsAndRows(q63(plainSession, sf))
    assert(jobs == 1 && plainJobs == 4, s"$jobs jobs vs $plainJobs without the strategy")
    assert(rows.nonEmpty && rows == plainRows)
    val df = q63(spark, sf)
    df.collect()
    assert(shuffles(df) == 0 && coalesced(df) == 1, plan(df).toString)
  }

  test("a one-file input plans no exchange; a four-file input keeps its exchanges") {
    withTempDir("graft_onesplit") { dir =>
      val one = writeInput(s"$dir/one", files = 1)
      val four = writeInput(s"$dir/four", files = 4)
      val (oneDf, fourDf) = (summary(spark, one), summary(spark, four))
      val (oneRows, fourRows) = (oneDf.collect().toSeq, fourDf.collect().toSeq)
      assert(oneRows.size == 7 && oneRows == fourRows)
      assert(shuffles(oneDf) == 0 && coalesced(oneDf) == 1, plan(oneDf).toString)
      val plainFour = summary(plainSession, four)
      plainFour.collect()
      assert(coalesced(fourDf) == 0 && shuffles(fourDf) > 0, plan(fourDf).toString)
      assert(shuffles(fourDf) == shuffles(plainFour), plan(fourDf).toString)
    }
  }

  test("a zero-row file still yields a global aggregate's grand-total row") {
    withTempDir("graft_onesplit_empty") { dir =>
      val path = s"$dir/empty.parquet"
      spark.range(0).select(col("id"), lit(1.0).as("v")).coalesce(1).write.parquet(path)
      val df = spark.read.parquet(path).agg(count(lit(1)).as("n"), sum("v").as("v"))
      val rows = df.collect().toSeq
      assert(rows.size == 1 && rows.head.getLong(0) == 0L && rows.head.isNullAt(1))
      assert(coalesced(df) == 1 && shuffles(df) == 0, plan(df).toString)
    }
  }

  test("a streaming file source keeps its exchanges") {
    withTempDir("graft_onesplit_stream") { dir =>
      val in = writeInput(dir.toString, files = 1)
      val q = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
        .groupBy((col("id") % 7).as("k")).count()
        .writeStream.format("memory").queryName("onesplit_stream_sink")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        assert(spark.table("onesplit_stream_sink").count() == 7)
        val executed = q.asInstanceOf[StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        assert(executed.collect { case c: CoalesceExec => c }.isEmpty, executed.toString)
        assert(executed.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
          executed.toString)
      } finally q.stop()
    }
  }

  test("bucketed scans are left to Spark, one bucket file or sixteen") {
    def uncoalesced(df: DataFrame): Unit = {
      df.collect()
      val bucketed = collect(plan(df)) {
        case s: FileSourceScanExec if s.relation.bucketSpec.nonEmpty => s
      }
      val underCoalesce = collect(plan(df)) { case c: CoalesceExec => c }
        .flatMap(_.collect { case s: FileSourceScanExec => s })
      assert(bucketed.nonEmpty && underCoalesce.forall(_.relation.bucketSpec.isEmpty),
        plan(df).toString)
    }
    Seq("q134_bucketed_join", "q347_dim_bucketed_join")
      .foreach(q => uncoalesced(SparkEntry.queries(q)(spark, sf)))
    // one bucket written by one task: one file of one split, which only
    // the bucket guard keeps
    withTempDir("graft_onesplit_bucket") { dir =>
      val table = s"graft_onesplit_bucketed_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.range(0, 100, 1, 1).select(col("id"), (col("id") % 5).as("k"))
        .write.bucketBy(1, "k").option("path", s"$dir/t").saveAsTable(table)
      try uncoalesced(spark.table(table).groupBy("k").count())
      finally spark.sql(s"DROP TABLE $table")
    }
  }
}
