package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session setup happens once, when the session is made
  * (`GraftExtensions.install`): building a query installs nothing and
  * flips no conf on the session it is given, so a query's plan does not
  * depend on which queries ran before it in the same session. */
class SessionSetupSpec extends SparkTestBase {

  private def setup(s: SparkSession) = (
    s.experimental.extraOptimizations,
    s.experimental.extraStrategies,
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet,
    s.conf.getAll)

  test("building q09, q70 and q134 leaves the session's rules, " +
      "strategies, graft_ functions and confs unchanged") {
    val before = setup(spark)
    Seq("q09_union_batches", "q70_asof_native", "q134_bucketed_join")
      .foreach(q => SparkEntry.queries(q)(spark, sf))
    assert(setup(spark) == before)
    // installing again on a set-up session adds nothing
    Graft.registerFunctions(spark)
    assert(setup(spark) == before)
  }

  test("asofJoin on a session without graft's setup fails with a named " +
      "require naming both setup routes") {
    val bare = spark.newSession()
    import bare.implicits._
    val left = Seq(("a", 10L)).toDF("k", "t")
    val right = Seq(("a", 5L)).toDF("rk", "rt")
    val err = intercept[IllegalArgumentException](
      Graft.asofJoin(left, right, Seq("k"), Seq("rk"), "t", "rt"))
    assert(err.getMessage.contains("AsofJoinStrategy is not installed"))
    assert(err.getMessage.contains("spark.sql.extensions"))
    assert(err.getMessage.contains("registerFunctions"))
  }

  test("no operator module touches session setup") {
    val banned = Seq("""GraftFunctions\.register""", """ensure(Rule|Strategy)""",
      """spark\.conf\.set""", """experimental\.""").map(_.r)
    val offenders = Files.list(Paths.get("src/main/scala/graft/operators"))
      .iterator().asScala.toSeq.sortBy(_.toString).flatMap { p =>
        val text = new String(Files.readAllBytes(p))
        banned.flatMap(_.findFirstIn(text)).map(b => s"${p.getFileName}: $b")
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("operator modules are named by domain, not by the round that " +
      "added them") {
    val roundNamed =
      Files.list(Paths.get("src/main/scala/graft/operators")).iterator()
        .asScala.map(_.getFileName.toString)
        .filter(_.matches("""Breadth\w*\.scala""")).toSeq.sorted
    assert(roundNamed.isEmpty, roundNamed.mkString(", "))
  }
}
