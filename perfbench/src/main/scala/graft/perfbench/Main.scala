package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  *   graft.perfbench.Main --workload <name> --data <dir> --out <dir>
  *     --seconds <n> --trace <0|1> --seed <n> --cpus <n> --launch-ms <ms>
  *     [--queries <file>] [--setup-only 1]
  *
  * Runs one workload on one `local[cpus]` session and writes the raw
  * measurements to `<out>/measure.json` (plus `<out>/spans.json` when
  * traced). Query results for the output check go to `<out>/results/`.
  * Metrics and checks are computed by run.py. `--launch-ms` is the epoch
  * millisecond at which run.py started this process; with `--setup-only 1`
  * the JVM only sets up, records its set-up time and exits. */
object Main {

  final case class Opts(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int,
      queries: Seq[String], launchMs: Long, setupOnly: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val queries = m.get("queries").toSeq.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    }
    Opts(need("workload"), need("data"), need("out"), need("seconds").toDouble,
      need("trace") == "1", need("seed").toLong, need("cpus").toInt, queries,
      need("launch-ms").toLong, m.get("setup-only").contains("1"))
  }

  /** The project's session (`graft.DevSession`, which reads
    * SPARK_GRAFT_CPUS) with graft's functions registered; fails unless it
    * runs on `local[cpus]`. */
  def session(cpus: Int): SparkSession = {
    val spark = graft.DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    val master = spark.sparkContext.master
    require(master == s"local[$cpus]",
      s"session runs on $master, not local[$cpus]: set SPARK_GRAFT_CPUS=$cpus")
    graft.Graft.registerFunctions(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.out))
    graft.sources.DfCache.enableBuildTiming()
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
      "seconds" -> o.seconds, "trace" -> o.trace)
    val spans = o.workload match {
      case "adhoc_sql" | "iterative" =>
        Batch.run(o, report)
      case "stream_ingest" => Stream.run(o, report)
      case w => sys.error(s"unknown workload $w")
    }
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    if (o.trace)
      Files.writeString(Paths.get(o.out, "spans.json"),
        mapper.writeValueAsString(spans))
    Files.writeString(Paths.get(o.out, "measure.json"),
      mapper.writeValueAsString(report))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Set up: build the session and run the workload's own set-up work
    * (`prefill`). `setup_s` runs from the launch of this process (JVM
    * start and class loading included) to the end of `prefill`, when the
    * first timed request could be issued. With `--setup-only` the set-up
    * is undone with `teardown` and nothing else runs; otherwise `warm`
    * then runs once, untimed, and its seconds are reported apart. */
  def setUp(o: Opts, report: mutable.Map[String, Any])(
      prefill: SparkSession => Unit, warm: SparkSession => Unit,
      teardown: SparkSession => Unit = _ => ()): SparkSession = {
    val spark = session(o.cpus)
    prefill(spark)
    report("setup_s") = (System.currentTimeMillis() - o.launchMs) / 1e3
    report("master") = spark.sparkContext.master
    report("default_parallelism") = spark.sparkContext.defaultParallelism
    report("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    if (o.setupOnly) teardown(spark)
    else {
      val w0 = System.nanoTime()
      warm(spark)
      report("warmup_s") = (System.nanoTime() - w0) / 1e9
    }
    spark
  }
}
