package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Relational

/** How the adhoc_sql query list was chosen. Run once; its output is
  * committed as `perfbench/queries/adhoc_sql.txt` and never recomputed.
  *
  *   graft.perfbench.Select <data dir> <list file>
  *
  * Runs every registered query once on a `local[4]` session, each after a
  * cold reset and a fresh build of the two warehouse facts, and keeps the
  * reference analytics surface q01-q09 plus every query that succeeded,
  * triggered no shared build other than the facts and took under
  * [[MaxLatencyS]]. */
object Select {
  val MaxLatencyS = 0.3
  private val Facts = Set("product_facts", "rep_facts")

  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    graft.sources.DfCache.enableBuildTiming()
    val spark = Main.session(4)
    val origin = System.nanoTime()
    val kept = graft.SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, f) =>
      Layers.coldReset(spark)
      Relational.productFacts(spark, data)
      Relational.repFacts(spark, data)
      graft.sources.DfCache.drainBuildTimes(spark)
      val r = Layers.run(spark, n, n, 0, 0, origin, () => f(spark, data))(Layers.noop)
      val builds = r.builds.keySet.map(_.takeWhile(_ != '|'))
      n.matches("q0[1-9]_.*") ||
        (r.ok && builds.subsetOf(Facts) && r.latencyS < MaxLatencyS)
    }.map(_._1)
    Files.write(Paths.get(out), (Seq(
      "# adhoc_sql: written by graft.perfbench.Select on gen_data seed 0, sf0.01",
      "# (see perfbench/README.md); frozen, never recomputed.") ++ kept).asJava)
    spark.stop()
  }
}
