package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Union}
import org.apache.spark.sql.functions._

/** The §4.3 agg-through-union optimizer rule: plan shape (partial
  * aggregates pushed below the union), value equivalence against the
  * un-unioned direct aggregation, and the negative cases that must NOT
  * rewrite (non-decomposable aggs, distinct, already-aggregated arms). */
class PushAggThroughUnionSpec extends SparkTestBase {

  private def unionAggPlan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.optimizedPlan

  private def partialAggsUnderUnion(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case Aggregate(_, _, u: Union, _)
          if u.children.forall(_.isInstanceOf[Aggregate]) => u
    }.nonEmpty

  test("q09's shape rewrites to per-batch partial aggregates under " +
      "the union and keeps identical results") {
    val sess = spark
    val li = graft.sources.Tables.lineitem(sess, sf)
    def q09() = li.filter(col("l_linenumber") <= 3)
      .unionByName(li.filter(col("l_linenumber") > 3))
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy("returnflag")
    val plan = unionAggPlan(q09())
    assert(partialAggsUnderUnion(plan),
      s"expected Aggregate over Union(Aggregate...), got:\n$plan")
    // value equivalence vs the direct (no-union) aggregation
    val expect = li
      .groupBy(col("l_returnflag").as("returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
      .orderBy("returnflag")
      .collect().map(_.toSeq).toSeq
    assert(q09().collect().map(_.toSeq).toSeq == expect)
  }

  /** Parquet-backed frame: ConvertToLocalRelation folds unions of
    * in-memory LocalRelations away before any user rule runs, so the
    * shape tests need real sources. */
  private def pq(root: java.nio.file.Path, name: String,
      rows: Seq[(Int, Double)]) = {
    val sess = spark
    import sess.implicits._
    val path = s"$root/$name"
    rows.toDF("k", "v").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("sum/count/min/max decompose exactly; count never goes null") {
    withTempDir("graft_pushagg") { root =>
      val sess = spark
      import sess.implicits._
      val a = pq(root, "a", Seq((1, 10.0), (1, 5.0), (2, 1.0)))
      val b = pq(root, "b", Seq((1, 2.0), (3, 7.0)))
      val got = a.unionByName(b).groupBy("k")
        .agg(sum("v").as("s"), count(lit(1)).as("c"),
          min("v").as("mn"), max("v").as("mx"))
        .orderBy("k")
      assert(partialAggsUnderUnion(got.queryExecution.optimizedPlan))
      assert(got.collect().map(_.toSeq).toSeq == Seq(
        Seq(1, 17.0, 3L, 2.0, 10.0),
        Seq(2, 1.0, 1L, 1.0, 1.0),
        Seq(3, 7.0, 1L, 7.0, 7.0)))
      // schema must be unchanged by the rewrite (count stays non-null long)
      assert(got.schema("c").dataType.typeName == "long")
    }
  }

  test("non-decomposable and distinct aggregates are left untouched") {
    withTempDir("graft_pushagg") { root =>
      val sess = spark
      import sess.implicits._
      val a = pq(root, "na", Seq((1, 10.0), (2, 1.0)))
      val b = pq(root, "nb", Seq((1, 2.0)))
      val avgDf = a.unionByName(b).groupBy("k").agg(avg("v").as("m"))
      assert(!partialAggsUnderUnion(avgDf.queryExecution.optimizedPlan),
        "avg is not decomposable by this rule and must not rewrite")
      assert(avgDf.orderBy("k").collect().map(_.toSeq).toSeq ==
        Seq(Seq(1, 6.0), Seq(2, 1.0)))
      val distinctDf = a.unionByName(b).groupBy("k")
        .agg(countDistinct("v").as("d"))
      assert(!partialAggsUnderUnion(distinctDf.queryExecution.optimizedPlan),
        "distinct aggregation must not rewrite")
    }
  }

  test("global (no grouping) aggregation over a union also decomposes") {
    withTempDir("graft_pushagg") { root =>
      val sess = spark
      import sess.implicits._
      val a = pq(root, "ga", Seq((0, 1.0), (0, 2.0)))
      val b = pq(root, "gb", Seq((0, 4.0)))
      val got = a.unionByName(b)
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
      assert(partialAggsUnderUnion(got.queryExecution.optimizedPlan))
      assert(got.collect().map(_.toSeq).toSeq == Seq(Seq(7.0, 3L)))
    }
  }
}
