package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Property coverage for the [[DistributedRank]] primitive family —
  * now the engine's standard replacement for every data-grown global
  * window (15+ registered consumers after round 12), so each recipe
  * gets its own partitioning-invariance + sequential-equivalence law
  * here, independent of any one consumer query. */
class DistributedRankSpec extends SparkTestBase {

  private def profile = graft.sources.Tables.lineitem(spark, sf)
    .groupBy(col("l_partkey").as("part"))
    .agg(sum(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
      .as("cents"),
      count(lit(1)).as("n"))

  test("withRunningTotals computes every prefix sum in one pass, " +
      "equal to a sequential scan, under adversarial partitioning") {
    def run(parts: Int) =
      DistributedRank.withRunningTotals(
          profile.repartition(parts),
          Seq("cents" -> "cum_cents", "n" -> "cum_n"),
          col("cents").desc, col("part").asc)
        .select("part", "cents", "n", "cum_cents", "cum_n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    val a = run(1)
    assert(a == run(17), "partitioning must not change any prefix sum")
    // sequential equivalence: replay the scan in (cents desc, part)
    val seq = a.sortBy(t => (-t._2, t._1))
    var (cc, cn) = (0L, 0L)
    seq.foreach { t =>
      cc += t._2; cn += t._3
      assert(t._4 == cc && t._5 == cn, s"part ${t._1} prefix diverged")
    }
  }

  test("withRunningMaxExclusive equals the strictly-earlier max of a " +
      "sequential scan (first row NULL) under adversarial partitioning") {
    val grp = profile.select(col("part"), col("cents"))
    def run(parts: Int) =
      DistributedRank.withRunningMaxExclusive(
          grp.repartition(parts), "cents", "prior_max", col("part").asc)
        .select("part", "cents", "prior_max").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sortBy(_._1).toSeq
    val a = run(1)
    assert(a == run(23), "partitioning must not change any prefix max")
    var acc = Option.empty[Long]
    a.foreach { t =>
      assert(t._3 == acc, s"part ${t._1} exclusive max diverged")
      acc = Some(acc.fold(t._2)(math.max(_, t._2)))
    }
    assert(a.head._3.isEmpty, "first row must be NULL")
  }

  test("withNtile matches the SQL ntile size rule exactly for a k " +
      "that does not divide n") {
    val k = 7
    val ranked = DistributedRank.withGlobalRank(
      profile, "rk", col("cents").desc, col("part").asc)
    val tiles = invokeNtile(k).select("part", "tile").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val n = tiles.size
    assert(n % k != 0, "fixture must exercise the uneven-size rule")
    val order = ranked.select("part", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    // SQL rule: first n % k tiles hold n/k + 1 rows, the rest n/k
    val q = n / k
    val sizes = (1 to k).map(t => if (t <= n % k) q + 1 else q)
    val boundaries = sizes.scanLeft(0)(_ + _)
    order.foreach { case (part, rk) =>
      val expTile = boundaries.indexWhere(_ >= rk)
      assert(tiles(part) == expTile,
        s"part $part rank $rk: tile ${tiles(part)} != $expTile")
    }
  }

  private def invokeNtile(k: Int) = {
    // withNtile is private[operators]; this spec lives in that package
    DistributedRank.withNtile(profile, k, "tile",
      col("cents").desc, col("part").asc)
  }
}
