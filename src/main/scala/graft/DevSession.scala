package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the dev/driver mains (Bench, Verify,
  * Profile, RecallScan, ScaleSmoke, Explain) — one place for the configs
  * every entry point needs (UTC, nanosAsLong, shuffle partitions =
  * cpus), honoring SPARK_GRAFT_CPUS everywhere, and graft's session
  * setup installed once (`GraftExtensions.install`). */
object DevSession {
  def make(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
