package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry index behind `SparkEntry.queries` / `oracleSql`: a name
  * registered twice is refused loudly instead of one registration
  * silently overwriting the other. Pure JVM (no Spark session). */
class QueryRegistrySpec extends AnyFunSuite {

  private def stub(name: String): QueryDef =
    QueryDef(name, (_, _) => null, s"SELECT '$name'")

  test("index refuses duplicate names and names every duplicate") {
    val e = intercept[IllegalArgumentException](SparkEntry.index(
      Seq(stub("qa"), stub("qb"), stub("qa"), stub("qc"), stub("qb"))))
    assert(e.getMessage.contains("qa") && e.getMessage.contains("qb"),
      e.getMessage)
    assert(!e.getMessage.contains("qc"), e.getMessage)
  }

  test("index keys distinct definitions by name") {
    val defs = Seq(stub("qa"), stub("qb"))
    val idx = SparkEntry.index(defs)
    assert(idx.keySet == Set("qa", "qb"))
    assert(idx("qb").oracle == "SELECT 'qb'")
  }

  test("select takes exact names and prefixes; no pattern selects all") {
    assert(SparkEntry.select(Seq("q05_top_product")).map(_.name) ==
      Seq("q05_top_product"))
    val q11 = SparkEntry.select(Seq("q11"))
    assert(q11.size > 1 && q11.forall(_.name.startsWith("q11")))
    assert(q11 == SparkEntry.all.filter(_.name.startsWith("q11")))
    assert(SparkEntry.select(Seq("q11", q11.last.name)) == q11,
      "overlapping patterns must not select a query twice")
    assert(SparkEntry.select(Nil) == SparkEntry.all)
  }

  test("select refuses unmatched patterns and names every one") {
    val e = intercept[IllegalArgumentException](SparkEntry.select(
      Seq("q05_top_product", "q05_tpo_product", "zz_no_such")))
    assert(e.getMessage.contains("q05_tpo_product") &&
      e.getMessage.contains("zz_no_such"), e.getMessage)
    assert(!e.getMessage.contains("q05_top_product"), e.getMessage)
  }
}
