package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `explain("formatted")` for named queries, one file
  * per query (`<outDir>/<query>_<suffix>.txt`), e.g. before/after plans
  * for an optimization; complements [[Explain]]'s single-file audit.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <query>...
  * (each query an exact name or a prefix)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    // an unknown name must fail the run (ADVICE r15): a typo in the
    // evidence pipeline would otherwise silently produce no plan file
    // while the tool exits 0 and the round's claims go unbacked
    val selected = SparkEntry.select(args.drop(3).toSeq)
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { q =>
      val plan = q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${q.name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${q.name}_$suffix.txt")
    }
    spark.stop()
  }
}
