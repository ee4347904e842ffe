package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Pca => P}
import graft.sources.Tables

/** q162 — the distributed power iteration pinned against a dense
  * same-recurrence recompute (tight tolerance: identical algorithm,
  * different summation order) and against a run-to-convergence
  * reference (loose tolerance: 4 rounds vs converged). */
class PcaSpec extends SparkTestBase {

  private lazy val x: Array[Array[Double]] =
    graft.sources.Tables.embeddings(spark, sf)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  private def densePower(iters: Int): (Array[Double], Seq[Double]) = {
    val n = x.length
    val d = x.head.length
    val mean = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    val lambdas = Seq.newBuilder[Double]
    (1 to iters).foreach { _ =>
      val s = x.map(xi => xi.indices.map(j => (xi(j) - mean(j)) * v(j)).sum)
      val w = Array.tabulate(d)(j =>
        x.indices.map(i => s(i) * (x(i)(j) - mean(j))).sum)
      lambdas += v.indices.map(j => v(j) * w(j)).sum / n
      val norm = math.sqrt(w.map(t => t * t).sum)
      v = w.map(_ / norm)
    }
    (v, lambdas.result())
  }

  test("q162 component matches the dense same-recurrence recompute") {
    val tc = P.topComponent(spark, sf)
    val (vRef, lRef) = densePower(P.Iters)
    assert(tc.n == x.length.toLong && tc.dim == x.head.length)
    // same recurrence, different summation order: agree tightly
    val cos = math.abs(tc.component.zip(vRef).map { case (a, b) => a * b }.sum)
    assert(cos > 1 - 1e-9, s"component cosine $cos")
    tc.rayleigh.zip(lRef).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6 * math.max(1.0, math.abs(b)),
        s"rayleigh $a vs $b")
    }
  }

  test("q162 rayleigh approaches the converged top eigenvalue") {
    val tc = P.topComponent(spark, sf)
    val (_, lConverged) = densePower(200)
    // near-isotropic corpus (gap ~0.93 at this SF): 20 rounds land
    // within a few percent of λ1 — the band is the honest statement
    assert(math.abs(tc.rayleigh.last - lConverged.last) <
      0.05 * lConverged.last,
      s"${P.Iters}-round ${tc.rayleigh.last} vs converged ${lConverged.last}")
  }

  test("q162 contract flags hold") {
    val r = P.q162TopComponent(spark, sf).collect().head
    assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5))
    assert(r.getInt(2) == P.Iters)
  }

  test("all-but-the-top: removing the component shrinks variance by ~λ1") {
    val tc = P.topComponent(spark, sf)
    val n = x.length
    val d = x.head.length
    val mean = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    def totalVar(rows: Array[Array[Double]]): Double =
      rows.map(xi => xi.indices.map(j => {
        val c = xi(j) - mean(j); c * c
      }).sum).sum / n
    val before = totalVar(x)
    val removed = x.map { xi =>
      val proj = xi.indices.map(j => (xi(j) - mean(j)) * tc.component(j)).sum
      Array.tabulate(d)(j => xi(j) - proj * tc.component(j))
    }
    val after = totalVar(removed)
    // removing unit direction v removes exactly vᵀCv of variance; the
    // reported rayleigh.last is vᵀCv of the PREVIOUS round's v, so the
    // band covers one round of residual drift
    assert(math.abs((before - after) - tc.rayleigh.last) <
      0.015 * tc.rayleigh.last,
      s"variance removed ${before - after} vs lambda ${tc.rayleigh.last}")
  }

  /** `topComponent`'s refusal on a scratch sf dir whose `embeddings`
    * table holds `vectors` (None = a NULL embedding); it reads nothing
    * else. The dir is deleted afterwards. */
  private def refusal(vectors: Seq[Option[Seq[Float]]]): String =
    withTempDir("graft_pca") { tmp =>
      val dir = tmp.toString
      val rows = vectors.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.orNull, 0) }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        Tables.embeddingsSchema).write.parquet(s"$dir/embeddings.parquet")
      intercept[IllegalArgumentException](P.topComponent(spark, dir)).getMessage
    }

  test("a ragged embedding corpus is refused by name") {
    val e = refusal(Seq(Some(Seq(1f, 2f)), Some(Seq(3f, 4f)), Some(Seq(5f))))
    assert(e.contains("ragged embedding corpus"), e)
  }

  test("a NULL embedding is refused by name, not dropped from n") {
    val e = refusal(Seq(Some(Seq(1f, 2f)), Some(Seq(3f, 4f)), None))
    assert(e.contains("NULL or empty embedding"), e)
    assert(e.contains("1 row(s)"), e)
  }
}
