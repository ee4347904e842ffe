package graft

/** Dev tool: ANN recall@10 against the brute-force ground truth, at
  * every local SF plus the pseudo-sf1 10x copy (`ScaleSmoke build`).
  * Per dir it prints, first, the min/avg per-query recall of each ANN
  * path at its default width (lsh, ivf, pq, ivfpq, trunc) — the audit
  * behind the recall floors in `AnnIndex`/`AnnRetrieval`/`Similarity`
  * — and then IVF / IVF+PQ avg recall as a function of probe width.
  * The sweep is the evidence behind the capped logarithmic nprobe
  * policy (`AnnIndex.ivfNprobe`) — the recall-vs-probe-fraction curve
  * is recorded in docs/SCALE.md, and the operating points are chosen to
  * clear the q52/q114 contract floors with margin at every tested
  * scale.
  *
  * Usage: runMain graft.ProbeSweep [sfDir ...]
  */
object ProbeSweep {
  def main(args: Array[String]): Unit = {
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.{AnnIndex, AnnRetrieval, Similarity}
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1", "/tmp/graft_sfx1")
    for (dir <- dirs if new java.io.File(dir).isDirectory) {
      val truth = Similarity.q36AnnBruteTopK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val byQ = truth.groupBy(_._1)
      def recalls(rows: Array[org.apache.spark.sql.Row]): Iterable[Double] = {
        val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        byQ.values.map(t => t.count(approx.contains).toDouble / t.length)
      }
      def avg(rs: Iterable[Double]): Double = rs.sum / rs.size
      for ((label, rows) <- Seq(
          "lsh" -> Similarity.lshTopK(spark, dir).collect(),
          "ivf" -> AnnIndex.ivfTopK(spark, dir).collect(),
          "pq" -> AnnIndex.pqTopK(spark, dir).collect(),
          "ivfpq" -> AnnIndex.ivfPqTopK(spark, dir).collect(),
          "trunc" -> AnnRetrieval.truncatedTopK(spark, dir).collect())) {
        val rs = recalls(rows)
        println(f"[recall] $dir $label nq=${rs.size} " +
          f"min=${rs.min}%.2f avg=${avg(rs)}%.2f")
      }
      val nCells = AnnIndex.ivfCellCount(spark, dir)
      val widths = (Seq(4, 6, 8, 10, 12, 14, 17, 21, 25, 30)
        .filter(_ <= nCells) :+ nCells.toInt).distinct.sorted
      println(s"[sweep] $dir cells=$nCells")
      for (np <- widths) {
        val rIvf = avg(recalls(
          AnnIndex.ivfTopK(spark, dir, Some(np)).collect()))
        val rPq = avg(recalls(
          AnnIndex.ivfPqTopK(spark, dir, Some(np)).collect()))
        println(f"[sweep] $dir nprobe=$np%3d frac=${np.toDouble / nCells}%.2f " +
          f"ivf_avg=$rIvf%.3f ivfpq_avg=$rPq%.3f")
      }
    }
    spark.stop()
  }
}
