package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the dev/driver mains (Bench, Verify,
  * PlanDump, ProbeSweep, ScaleSmoke, Explain) — one place for the configs
  * every entry point needs (UTC, nanosAsLong, shuffle partitions =
  * cpus, the codegen class cache size), honoring SPARK_GRAFT_CPUS
  * everywhere, and graft's session setup installed once
  * (`GraftExtensions.install`). */
object DevSession {

  /** `spark.sql.codegen.cache.maxEntries`: Spark's per-JVM LRU of
    * compiled generated classes (default 100, which a mix of a few
    * dozen queries overflows, so every warm query recompiles its code).
    * A static conf, read once when `CodeGenerator` initializes, so it
    * goes on the builder. Sizing and cost in docs/SCALE.md. */
  val CodegenCacheEntries = 1000

  def make(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
