package graft

import org.apache.spark.sql.functions._

/** `graft_sign_bits` — the batched LSH sign-projection kernel — must be
  * bit-identical to the higher-order-function formulation it replaced
  * in q35/q37 (same left-to-right double accumulation), in BOTH eval
  * paths (codegen and interpreted), including null propagation. */
class SignBitsSpec extends SparkTestBase {

  private val lambdaBits =
    "transform(planes, p -> IF(graft_dot(p, vec) > 0D, 1L, 0L))"

  test("native bits == lambda bits on real embeddings (double planes)") {
    val sess = spark
    val planes = graft.operators.DedupEmbedding.portablePlanes(64)
    val base = graft.sources.Tables.embeddings(sess, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("vec"))
      .withColumn("planes", typedLit(planes))
    val native = base.select(col("vec_id"),
        expr("graft_sign_bits(planes, vec)").as("bits")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val lambda = base.select(col("vec_id"), expr(lambdaBits).as("bits"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(native.nonEmpty && native == lambda)
    // every signature has the full plane count
    assert(native.values.forall(_.length == planes.length))
  }

  test("float vectors accepted, zero dot maps to bit 0") {
    val sess = spark
    import sess.implicits._
    val df = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, -2.0f)))
      .toDF("id", "vec")
      .withColumn("planes",
        typedLit(Seq(Seq(1.0, 1.0), Seq(-1.0, -1.0), Seq(2.0, 1.0))))
      .selectExpr("id", "graft_sign_bits(planes, vec) AS bits")
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList)
      .toMap
    // id 1: all dots are exactly 0 -> all bits 0
    assert(got(1L) == List(0L, 0L, 0L))
    // id 2: dots are -1, +1, 0 -> bits 0, 1, 0
    assert(got(2L) == List(0L, 1L, 0L))
  }

  test("null vector element propagates to NULL (both eval paths)") {
    val sess = spark
    import sess.implicits._
    val rows = Seq(Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))
      .toDF("vec")
      .withColumn("planes", typedLit(Seq(Seq(1.0, 1.0))))
      // repartition keeps ConvertToLocalRelation from constant-folding
      // the projection (same trick as RewriteRuleSpec)
      .repartition(1)
      .selectExpr("graft_sign_bits(planes, vec) AS bits")
      .collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(rows.count(!_.isNullAt(0)) == 1)
  }
}
