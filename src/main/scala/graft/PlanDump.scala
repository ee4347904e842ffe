package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `explain("formatted")` for named queries, one file
  * per query (`<outDir>/<query>_<suffix>.txt`), e.g. before/after plans
  * for an optimization; complements [[Explain]]'s single-file audit.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <query>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // an unknown name must fail the run (ADVICE r15): a typo in the
    // evidence pipeline would otherwise silently produce no plan file
    // while the tool exits 0 and the round's claims go unbacked
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
