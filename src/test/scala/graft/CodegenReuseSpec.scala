package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session reuses its generated code: running the adhoc query
  * mix a second time compiles no Janino class. Spark's per-JVM codegen
  * cache holds `spark.sql.codegen.cache.maxEntries` classes (default
  * 100); the mix needs more than that, so at the default every class is
  * evicted before its next use and each repeat recompiles all of them.
  * The session builders size the cache from `DevSession`. The mix runs
  * on [[MultiSplitSf]], where its plans keep the exchanges that scans
  * of one split do not plan (`OneSplitScanStrategy`), so the working set
  * it measures is the multi-split one. */
class CodegenReuseSpec extends SparkTestBase {

  private val adhoc = Files.readAllLines(Paths.get("perfbench/queries/adhoc_sql.txt"))
    .asScala.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Classes compiled while running every adhoc query once into a noop sink. */
  private def pass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    adhoc.foreach { q =>
      SparkEntry.queries(q)(spark, MultiSplitSf(sf))
        .write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass over the adhoc queries compiles no generated class") {
    val first = pass()
    val second = pass()
    info(s"classes compiled: first pass $first, second pass $second")
    assert(first > 100, "the adhoc working set should exceed Spark's default cache")
    assert(second == 0)
  }
}
