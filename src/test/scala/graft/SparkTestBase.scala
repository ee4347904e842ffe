package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared single SparkSession for all suites (matches Verify's configs). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config(DevSession.StaticConfs)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(s)
    s
  }
}

/** A copy of an sf dir with each table rewritten as a directory of four
  * parquet files, so every scan of it reads several splits. A
  * plan-shape test that pins an exchange runs on it: a scan of one split
  * plans no exchange above it (`graft.plans.OneSplitScanStrategy`), and
  * every sf0.001 table is one file of one split. Written once per JVM
  * and source dir, deleted at exit. */
object MultiSplitSf {
  private val copies = scala.collection.mutable.Map.empty[String, String]

  def apply(src: String): String = synchronized {
    copies.getOrElseUpdate(src, {
      val root = Files.createTempDirectory("graft_multisplit")
      sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
      new java.io.File(src).list().filter(_.endsWith(".parquet")).foreach { t =>
        SparkTestSession.spark.read.parquet(s"$src/$t").repartition(4)
          .write.parquet(s"$root/$t")
      }
      root.toString
    })
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `x` rounded half-up to `n` decimals, as Spark's and DuckDB's
    * `round` do. */
  protected def rN(x: Double, n: Int): Double =
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
  protected def r2(x: Double): Double = rN(x, 2)
  protected def r4(x: Double): Double = rN(x, 4)
  protected def r6(x: Double): Double = rN(x, 6)
  /** `x` rounded half-up to a whole number. */
  protected def rl(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  /** `x` in millionths, rounded half-up: the queries' `*_micro` columns. */
  protected def micro(x: Double): Long = rl(x * 1e6)

  /** The words of `text`: trimmed, split on single spaces, empty
    * strings dropped. */
  protected def words(text: String): Seq[String] =
    text.trim.split(" ", -1).toSeq.filter(_.nonEmpty)

  /** Exact type-7 percentile (Spark `percentile`, DuckDB
    * `quantile_cont`): sorted, position p * (n - 1), linear
    * interpolation between its two neighbours. */
  protected def pct(xs: Seq[Long], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 < s.length) s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    else s(lo).toDouble
  }
  protected def pct(xs: Seq[Double], p: Double)(
      implicit d: DummyImplicit): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = pos.toInt
    if (lo + 1 < s.length) s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    else s(lo)
  }

  /** Runs `body` on a fresh temp directory named after `prefix`, and
    * deletes the directory afterwards, whether `body` passed or not. */
  protected def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  /** Jobs launched while `df` is collected, and its rows. */
  protected def jobsAndRows(df: DataFrame): (Int, Seq[Row]) = {
    val sc = df.sparkSession.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val rows = df.collect().toSeq
      org.apache.spark.graft.GraftListenerBus.waitUntilEmpty(sc)
      (jobs.get, rows)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
