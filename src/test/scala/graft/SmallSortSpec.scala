package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.plans.{GraftExtensions, OnePartitionExec, SmallSortStrategy}

/** A global sort over a small input sorts in one partition
  * (`SmallSortStrategy`), so it pays no range-sampling job;
  * `spark.sql.autoBroadcastJoinThreshold=-1` restores Spark's
  * range-partitioned sort, as it disables broadcasts. */
class SmallSortSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** A session with graft's setup and the broadcast threshold at -1. */
  private lazy val rangeSession: SparkSession = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** The partitionings of every shuffle in `df`'s executed plan, query
    * stages included; call after an action so AQE's plan is final. */
  private def shuffles(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }

  private def ranges(df: DataFrame): Int =
    shuffles(df).count(_.isInstanceOf[RangePartitioning])

  /** q03 on [[MultiSplitSf]]: its sort input is spread over partitions
    * there, so the range session plans the range exchange this spec
    * compares against (on one-split sf0.001 neither session has one). */
  private def q03(s: SparkSession) =
    SparkEntry.queries("q03_quarterly_totals")(s, MultiSplitSf(sf))

  test("a small ordered query sorts in one partition, one job fewer") {
    q03(spark).collect(); q03(rangeSession).collect() // build the cached facts
    val small = q03(spark)
    val (smallJobs, _) = jobsAndRows(small)
    assert(ranges(small) == 0, small.queryExecution.executedPlan.toString)
    assert(shuffles(small).contains(SinglePartition))
    val (rangeJobs, _) = jobsAndRows(q03(rangeSession))
    assert(smallJobs == rangeJobs - 1, s"$smallJobs jobs vs $rangeJobs at -1")
  }

  test("threshold -1 keeps the range exchange") {
    assert(GraftExtensions.installed(rangeSession, SmallSortStrategy))
    val df = q03(rangeSession)
    df.collect()
    assert(ranges(df) == 1, df.queryExecution.executedPlan.toString)
    assert(!shuffles(df).contains(SinglePartition))
  }

  test("a sort over a materialized range-partitioned stage is not shuffled again") {
    // the filter keeps 1 row in 1000, which only the runtime statistics
    // know: planned before any stage ran, the input is over the threshold
    // and sorts by range; once AQE has materialized that range stage the
    // input is small, and a re-plan must keep the stage, not shuffle it
    val threshold = 100L * 1024
    val s = spark.newSession()
    GraftExtensions.install(s)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    val df = s.range(0, 200000, 1, 4)
      .filter(col("id") % 1000 === 7)
      .select(col("id"), (col("id") * 7919 % 101).as("k"))
      .orderBy(col("k"), col("id"))
    val sort = df.queryExecution.optimizedPlan.asInstanceOf[Sort]
    assert(sort.child.stats.sizeInBytes > threshold)
    val keys = df.collect().toSeq.map(r => (r.getLong(1), r.getLong(0)))
    assert(keys.size == 200 && keys == keys.sorted)
    val stages = collect(df.queryExecution.executedPlan) {
      case q: ShuffleQueryStageExec => q
    }
    assert(stages.size == 1 && ranges(df) == 1,
      df.queryExecution.executedPlan.toString)
    // the re-plan AQE makes over that stage: small by its runtime size,
    // so only the stage's own range partitioning keeps the sort as it is
    val replan = sort.copy(child = LogicalQueryStage(sort.child, stages.head))
    SQLConf.withExistingConf(s.sessionState.conf) {
      assert(replan.child.stats.sizeInBytes <= threshold)
      assert(SmallSortStrategy(replan).isEmpty)
    }
  }

  test("a multi-partition ordered input gives identical rows in both sessions") {
    def ordered(s: SparkSession): DataFrame =
      s.range(0, 5000, 1, 8)
        .select((col("id") * 7919 % 97).as("k"), col("id"),
          (col("id") % 13 * 0.25).as("v"))
        .orderBy(col("k").desc, col("v"), col("id"))
    Seq[SparkSession => DataFrame](ordered,
        s => SparkEntry.queries("q01_product_facts")(s, MultiSplitSf(sf))).foreach { q =>
      val (small, range) = (q(spark), q(rangeSession))
      val (smallRows, rangeRows) = (small.collect().toSeq, range.collect().toSeq)
      assert(ranges(small) == 0 && ranges(range) == 1)
      assert(smallRows.nonEmpty && smallRows == rangeRows)
    }
  }

  test("an input already in one partition is sorted where it is, no extra job") {
    // a union of global aggregates: one partition already, so Spark's
    // own path plans no exchange and neither may this one
    def summary(s: SparkSession): DataFrame = {
      val t = s.range(0, 1000, 1, 4)
      t.agg(sum("id").as("v")).select(lit("sum").as("k"), col("v"))
        .union(t.agg(max("id").as("v")).select(lit("max").as("k"), col("v")))
        .orderBy("k")
    }
    val (small, range) = (summary(spark), summary(rangeSession))
    val ((smallJobs, smallRows), (rangeJobs, rangeRows)) =
      (jobsAndRows(small), jobsAndRows(range))
    assert(smallRows == rangeRows && smallRows.map(_.getString(0)) == Seq("max", "sum"))
    assert(shuffles(small).size == shuffles(range).size && smallJobs == rangeJobs,
      s"$smallJobs jobs vs $rangeJobs at -1:\n${small.queryExecution.executedPlan}")
    assert(collect(small.queryExecution.executedPlan) {
      case o: OnePartitionExec => o }.size == 1)
  }
}
