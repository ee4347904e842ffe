package graft

import graft.operators.{SketchAlgebra => SA}

/** q153 — the HLL inclusion-exclusion overlap matrix: exact arm pinned
  * against an independent recompute, estimate arm against its
  * tolerance contract. */
class SketchAlgebraSpec extends SparkTestBase {

  test("q153 exact overlaps match an independent recompute and every " +
      "pair clears the tolerance contract") {
    val rows = graft.sources.Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = rows.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
    } yield (a, b, (byType(a) & byType(b)).size.toLong)).toSeq
    val got = SA.q153HllIntersect(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == expected,
      s"exact arm diverges:\n got=$got\n exp=$expected")
    // the estimate's contract: every pair within tolerance (the
    // synthetic segments overlap heavily, the regime where
    // inclusion-exclusion is reliable)
    assert(got.forall(_._4), s"tolerance violated: ${got.filterNot(_._4)}")
    // matrix shape: C(|types|, 2) unordered pairs
    assert(got.length == types.size * (types.size - 1) / 2)
  }

  test("graft_cms_estimate (codegen CMS probe) equals direct " +
      "estimateCount and propagates null keys") {
    import org.apache.spark.sql.functions._
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.001, 0.99, 42)
    Seq("view", "view", "purchase", "view", "cart").foreach(cms.addString)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    import spark.implicits._
    val out = Seq(Some("view"), Some("purchase"), Some("absent"), None)
      .toDF("k")
      .select(col("k"),
        call_function("graft_cms_estimate", lit(bytes), col("k")).as("est"))
      .collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toSeq
    assert(out == Seq(
      Some("view") -> Some(cms.estimateCount("view")),
      Some("purchase") -> Some(cms.estimateCount("purchase")),
      Some("absent") -> Some(cms.estimateCount("absent")),
      None -> None))
    assert(cms.estimateCount("view") >= 3L)
  }
}
