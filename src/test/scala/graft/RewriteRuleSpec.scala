package graft

import org.apache.spark.sql.functions._

import graft.plans.VectorDot

/** The optimizer rule, installed with the test session, rewrites the
  * interpreted self-dot lambda into the native kernel without changing
  * results. */
class RewriteRuleSpec extends SparkTestBase {

  private val lambdaSelfDot =
    "aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  test("rule fires: self-dot lambda becomes VectorDot in the optimized plan") {
    val df = graft.sources.Tables.embeddings(spark, sf)
      .select(expr(lambdaSelfDot).as("d"))
    val optimized = df.queryExecution.optimizedPlan
    val fired = optimized.expressions.exists(_.exists(_.isInstanceOf[VectorDot]))
    assert(fired, s"expected VectorDot in:\n$optimized")
  }

  test("rewrite preserves values exactly") {
    // the reference runs the lambda in a bare session, where nothing
    // is installed and the rule cannot fire
    def selfDots(s: org.apache.spark.sql.SparkSession) =
      graft.sources.Tables.embeddings(s, sf).limit(50)
        .select(col("vec_id"), expr(lambdaSelfDot).as("d"))
    def rewritten(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan
        .exists(_.expressions.exists(_.exists(_.isInstanceOf[VectorDot])))
    def values(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (bare, installed) = (selfDots(spark.newSession()), selfDots(spark))
    assert(!rewritten(bare) && rewritten(installed))
    assert(values(installed) == values(bare))
  }

  test("null array elements: rewrite preserves the lambda's NULL result") {
    // lambda: null element propagates through x*y and acc+v -> NULL;
    // VectorDot must agree (ADVICE r01), in both eval paths. The
    // repartition keeps ConvertToLocalRelation from pre-evaluating
    // the projection before the rewrite can fire.
    val sess = spark
    import sess.implicits._
    val df = Seq(Seq[java.lang.Double](1.0, null, 3.0),
                 Seq[java.lang.Double](1.0, 2.0))
      .toDF("a").repartition(1)
      .selectExpr(
        """aggregate(zip_with(a, a, (x, y) -> x * y),
          |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d""".stripMargin)
    assert(df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[VectorDot])), "rewrite must fire")
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSet == Set(None, Some(5.0)))
    // direct graft_dot agrees (codegen path)
    val direct = spark.sql(
      """SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 1.0D)) AS d""")
      .collect()(0)
    assert(direct.isNullAt(0))
  }

  test("rule does NOT fire for two different arrays (ragged-null semantics)") {
    val df = spark.sql(
      """SELECT aggregate(zip_with(array(1.0D), array(2.0D, 3.0D),
        |                          (x, y) -> x * y),
        |                 CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS d""".stripMargin)
    val optimized = df.queryExecution.optimizedPlan
    assert(!optimized.expressions.exists(_.exists(_.isInstanceOf[VectorDot])))
    // and the lambda's null-padding semantics survive
    assert(df.collect()(0).isNullAt(0))
  }
}
