package graft

import org.apache.spark.sql.functions._

import graft.operators.{Calibration => C}

/** q168 quantile normalization pinned against an independent
  * interpolation recompute and the distribution-alignment laws the
  * transform exists to provide. */
class CalibrationSpec extends SparkTestBase {

  private lazy val got: Array[(Long, String, Double, Double)] =
    C.q168QuantileNormalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))

  test("q168 matches an independent grid-interpolation recompute") {
    val global = got.map(_._3).sorted
    // type-7 grid, rounded once — the same construction
    def q(p: Double): Double = {
      val pos = p * (global.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      r6(global(lo) + (pos - lo) * (global(hi) - global(lo)))
    }
    val grid = (0 to C.G).map(i => q(i.toDouble / C.G)).toArray
    got.groupBy(_._2).foreach { case (_, docs) =>
      val ranked = docs.sortBy(d => (d._3, d._1))
      val ns = ranked.length
      ranked.zipWithIndex.foreach { case ((id, _, _, calibrated), r0) =>
        val (num, den) = (r0.toLong * C.G, (ns - 1).toLong)
        val (i, rem) = if (den == 0) (0L, 0L) else (num / den, num % den)
        val expect = r6(grid(i.toInt) +
          (if (rem > 0) rem.toDouble / den * (grid(i.toInt + 1) - grid(i.toInt))
           else 0.0))
        assert(calibrated == expect, s"doc $id")
      }
    }
  }

  test("q168 laws: rank-preserving per source, aligned across sources") {
    // monotone within each source: calibration never reorders
    got.groupBy(_._2).foreach { case (src, docs) =>
      val ranked = docs.sortBy(d => (d._3, d._1)).map(_._4)
      assert(ranked.zip(ranked.tail).forall { case (a, b) => a <= b },
        s"$src not rank-preserving")
    }
    // alignment: every source's median doc maps near the global median
    // (that's the point of the transform) — band, since sources differ
    // in size and tie structure
    val globalMedian = {
      val s = got.map(_._3).sorted; s(s.length / 2)
    }
    got.groupBy(_._2).foreach { case (src, docs) =>
      val m = docs.sortBy(d => (d._3, d._1)).map(_._4)
        .apply(docs.length / 2)
      assert(math.abs(m - globalMedian) <
        0.1 * math.abs(globalMedian).max(1.0),
        s"$src median $m vs global $globalMedian")
    }
    // calibrated values live inside the global score range
    val (lo, hi) = (got.map(_._3).min, got.map(_._3).max)
    assert(got.forall(d => d._4 >= lo - 1e-9 && d._4 <= hi + 1e-9))
  }

  private lazy val vecs: Array[Array[Double]] =
    graft.sources.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  test("q169 matches an independent quantization recompute") {
    val r = C.q169Int8Calibrate(spark, sf).collect().head
    val coords = vecs.flatten
    assert(r.getLong(0) == vecs.length.toLong && r.getInt(1) == 64)
    // scale: type-7 p99.9 of |x|, rounded 6
    val sorted = coords.map(math.abs).sorted
    val pos = 0.999 * (sorted.length - 1)
    val (l, h) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    val scale = r6(sorted(l) + (pos - l) * (sorted(h) - sorted(l)))
    assert(r.getDouble(2) == scale, s"scale ${r.getDouble(2)} vs $scale")
    def quant(x: Double): (Double, Boolean) = {
      val yq = math.floor(x / scale * 127 + 0.5)
      val q = math.min(math.max(yq, -127.0), 127.0)
      (q, yq != q)
    }
    val clipped = coords.count(x => quant(x)._2)
    assert(r.getLong(3) == clipped.toLong, "clip count")
    val sse = coords.map { x =>
      val e6 = math.floor((x - quant(x)._1 * scale / 127) * 1e6 + 0.5).toLong
      e6 * e6
    }.sum
    val mse = BigDecimal(sse.toDouble / coords.length / 1e12)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(5) == mse, s"mse ${r.getDouble(5)} vs $mse")
  }

  test("q169 law: int8 scoring preserves cosine top-10 (overlap >= 0.7)") {
    val r = C.q169Int8Calibrate(spark, sf).collect().head
    val scale = r.getDouble(2)
    def qv(v: Array[Double]): Array[Double] = v.map { x =>
      math.min(math.max(math.floor(x / scale * 127 + 0.5), -127.0), 127.0)
    }
    def topk(base: Array[Array[Double]], q: Int): Seq[Int] =
      base.indices.filter(_ != q)
        .map(i => i -> {
          val (a, b) = (base(q), base(i))
          val dot = a.indices.map(j => a(j) * b(j)).sum
          dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
        })
        .sortBy { case (i, c) => (-c, i) }.take(10).map(_._1)
    val quantized = vecs.map(qv)
    val queries = vecs.indices.filter(_ % 50 == 0)
    val overlaps = queries.map { q =>
      (topk(vecs, q).toSet & topk(quantized, q).toSet).size / 10.0
    }
    val avg = overlaps.sum / overlaps.length
    assert(avg >= 0.7, s"avg top-10 overlap $avg")
  }
}
