package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{Audit, FeaturePrep, TextProfile}
import graft.sources.Tables

/** Independent-formulation pins for the round-10 twenty-seventh batch
  * (q335 fold balance, q336 Spearman, q337 freshness matrix, q338
  * charset profile). */
class Round11bSpec extends SparkTestBase {

  test("q335 fold balance equals a sequential hash replay and " +
      "conserves every stratum") {
    val rows = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val folds = rows.map { case (v, l) =>
      (l, (Hashing.md5Hash60Value(s"fold:$v") % FeaturePrep.CvFolds).toInt)
    }
    val got = FeaturePrep.q335FoldBalance(spark, sf).collect()
    got.foreach { r =>
      val cell = folds.count(t => t._1 == r.getInt(0) &&
        t._2 == r.getInt(1)).toLong
      val stratum = folds.count(_._1 == r.getInt(0)).toLong
      assert(r.getLong(2) == cell)
      assert(r.getLong(3) == stratum)
      assert(r.getDouble(4) == rN(cell.toDouble / stratum, 6))
      assert(r.getDouble(5) ==
        rN(cell.toDouble / stratum - 1.0 / FeaturePrep.CvFolds, 6))
    }
    // every stratum's folds sum back to the stratum
    got.groupBy(_.getInt(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(3))
    }
  }

  test("q336 Spearman equals a sequential midrank replay and lands " +
      "in [-1, 1]") {
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"),
        size(expr("filter(split(trim(text), ' '), w -> length(w) > 0)"))
          .cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def midranks2(vs: Seq[Long]): Seq[Long] = {
      val sorted = vs.sorted
      vs.map { v =>
        val below = sorted.count(_ < v).toLong
        val ties = sorted.count(_ == v).toLong
        2 * (below + 1) + ties - 1
      }
    }
    val got = FeaturePrep.q336SpearmanLengthQuality(spark, sf).collect()
    got.foreach { r =>
      val ds = docs.filter(_._1 == r.getString(0))
      val xs = midranks2(ds.map(_._2))
      val ys = midranks2(ds.map(_._3))
      val k = ds.length.toLong
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) =>
        BigDecimal(a) * BigDecimal(b) }.sum
      val sxx = xs.map(a => BigDecimal(a) * BigDecimal(a)).sum
      val syy = ys.map(a => BigDecimal(a) * BigDecimal(a)).sum
      val num = k.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val denx = k.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      val deny = k.toDouble * syy.toDouble - sy.toDouble * sy.toDouble
      assert(r.getLong(1) == k)
      assert(r.getDouble(2) ==
        rN(num / (math.sqrt(denx) * math.sqrt(deny)), 6),
        s"${r.getString(0)} rho")
      assert(r.getDouble(2) >= -1 - 1e-9 && r.getDouble(2) <= 1 + 1e-9)
    }
  }

  test("q337 freshness matrix equals direct per-table counts") {
    val got = Audit.q337FreshnessMatrix(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 8)
    assert(got("lineitem").getLong(1) ==
      Tables.lineitem(spark, sf).count())
    assert(got("events").getLong(1) == Tables.events(spark, sf).count())
    assert(got("customer").getLong(1) ==
      Tables.customer(spark, sf).count())
    // dated tables carry staleness; timeless ones NULL
    assert(!got("lineitem").isNullAt(3) && !got("events").isNullAt(3))
    assert(got("customer").isNullAt(2) && got("customer").isNullAt(3))
    // the freshest dated table has staleness zero
    assert(Seq("lineitem", "orders", "events")
      .map(t => got(t).getInt(3)).min == 0)
  }

  test("q338 charset profile equals a sequential replay and shares " +
      "sum to one") {
    val docs = Tables.documents(spark, sf).select("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val got = TextProfile.q338CharsetProfile(spark, sf).collect()
    got.foreach { r =>
      val ts = docs.filter(_._1 == r.getString(0)).map(_._2)
      val chars = ts.map(_.length.toLong).sum
      def cnt(p: Char => Boolean): Long =
        ts.map(_.count(p).toLong).sum
      val l = cnt(_.isLetter)
      val d = cnt(_.isDigit)
      val s = cnt(_ == ' ')
      val p = cnt(c => ".,!?;:".contains(c))
      assert(r.getLong(1) == chars)
      assert(r.getDouble(2) == rN(l.toDouble / chars, 6))
      assert(r.getDouble(3) == rN(d.toDouble / chars, 6))
      assert(r.getDouble(4) == rN(s.toDouble / chars, 6))
      assert(r.getDouble(5) == rN(p.toDouble / chars, 6))
      assert(r.getDouble(6) ==
        rN((chars - l - d - s - p).toDouble / chars, 6))
      // rounded shares sum to ~1
      assert(math.abs(r.getDouble(2) + r.getDouble(3) + r.getDouble(4) +
        r.getDouble(5) + r.getDouble(6) - 1.0) < 3e-6)
    }
  }
}
