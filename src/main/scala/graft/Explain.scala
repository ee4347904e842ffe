package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: dumps `explain("formatted")` of the executed
  * plan of registered queries so pushdown / pruning / join strategy /
  * codegen coverage can be reviewed. The output is generated on demand (default
  * docs/PLANS.md, not committed); `PlanContractSpec` enforces the
  * load-bearing plan rules in code.
  *
  * Usage: runMain graft.Explain [sfDir] [outFile] [query...]
  * (queries are exact names or prefixes; with none, every registered
  * query is dumped)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    // a pattern that matches no registered query fails the run
    val audited = SparkEntry.select(args.drop(2).toSeq)
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.Explain, sf=")
      .append(sfDir).append(")\n\n")
    sb.append("Checks per plan: filters reach the parquet scan " +
      "(PushedFilters), only needed columns read (ReadSchema), small dims " +
      "broadcast, WholeStageCodegen spans cover the hot path.\n\n" +
      "Since round 9 the load-bearing subset of this audit is ENFORCED, " +
      "not just recorded: `PlanContractSpec` walks EVERY registered " +
      "query's physical plan and fails on any `CartesianProduct`, any " +
      "`BroadcastNestedLoopJoin` whose build side is not provably tiny " +
      "(outside the documented `PlanContract.BnljAllow` grants — " +
      "query-point/query-batch broadcasts, cached k-bounded model " +
      "tables, enum-keyed spines), any GLOBAL window not in the documented profile-bounded `GlobalWindowAllow` grants, and any pushable-shaped scan " +
      "predicate that fails source translation. This file remains the " +
      "full narrative audit; the spec is the tripwire.\n")
    audited.foreach { q =>
      // dumped after an action, so the plan is AQE's final one, with the
      // runtime re-planning (small-sort rewrites, broadcast conversions)
      // applied
      val df = q.run(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## ${q.name}\n\n```\n$plan```\n")
    }
    // q389 reads its flag spine through a localCheckpoint (measured
    // r15 fix), which cuts the gate→dedup→decontamination lineage out
    // of the registered plan above — dump the un-checkpointed spine
    // separately so the audit keeps the full declarative lineage
    // visible (incl. the graft_bloom_contains scan-stage probe in the
    // decontamination arm).
    if (audited.exists(_.name == "q389_training_materialization")) {
      val df = graft.operators.Materialize.flagSpinePlan(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append("\n## q389_training_materialization — flag-spine " +
        "lineage (pre-checkpoint)\n\n```\n" + plan + "```\n")
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
