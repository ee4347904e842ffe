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
}
