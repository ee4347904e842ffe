package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Class-data-sharing training run (`perfbench/build.py`): every workload
  * once, briefly, on tiny inputs, so the archive holds the classes the
  * benchmark loads.
  *
  *   graft.perfbench.Train <data dir> <work dir> <query list dir> */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(data, work, lists) = args
    for (w <- Seq("adhoc_sql", "iterative", "stream_ingest")) {
      val list = Paths.get(lists, s"$w.txt")
      val queries =
        if (!Files.exists(list)) Seq.empty
        else {
          val head = Files.readAllLines(list).asScala
            .filter(l => l.trim.nonEmpty && !l.startsWith("#")).take(3)
          val f = Paths.get(work, s"$w.txt")
          Files.write(f, head.asJava)
          Seq("--queries", f.toString)
        }
      Main.main(Array("--workload", w, "--data", data, "--out", s"$work/$w",
        "--seconds", "0.5", "--trace", "1", "--seed", "0", "--cpus", "2",
        "--launch-ms", System.currentTimeMillis().toString) ++ queries)
    }
  }
}
