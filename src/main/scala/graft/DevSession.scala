package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession builder for the dev/driver mains (Bench, Verify,
  * ProbeSweep, ScaleSmoke, Explain) — one place for the configs
  * every entry point needs (UTC, nanosAsLong, shuffle partitions =
  * cpus, the [[StaticConfs]]), honoring SPARK_GRAFT_CPUS everywhere,
  * and graft's session setup installed once
  * (`GraftExtensions.install`). */
object DevSession {

  /** `spark.sql.codegen.cache.maxEntries`: Spark's per-JVM LRU of
    * compiled generated classes (default 100, which a mix of a few
    * dozen queries overflows, so every warm query recompiles its code).
    * Sizing and cost in docs/SCALE.md. */
  val CodegenCacheEntries = 1000

  /** The confs every graft session builder sets: each is read once per
    * JVM, before any query runs, so none can be set by
    * `GraftExtensions.install` or on a running session. The codegen
    * class cache size, and the `file://` filesystem that forks no
    * process per file operation ([[graft.sources.LocalFs]]). */
  val StaticConfs: Map[String, String] =
    Map("spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString) ++
      graft.sources.LocalFs.HadoopConfs.map { case (k, v) => s"spark.hadoop.$k" -> v }

  def make(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config(StaticConfs)
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
