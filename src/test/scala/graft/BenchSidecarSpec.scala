package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Which Bench runs may write the committed sidecars (`bench_out.json`,
  * `docs/bench/r{N}.json`): only the full registry on the default SF dir.
  * A subset or another dir is a dev run and writes its JSON only to
  * SPARK_GRAFT_BENCH_OUT. Pure JVM (no Spark session). */
class BenchSidecarSpec extends AnyFunSuite {

  private val all = SparkEntry.all

  test("a full default run writes bench_out.json and the round sidecar") {
    assert(Bench.isFullRun(Bench.DefaultSfDir, all))
    val default = Paths.get(Bench.DefaultSfDir)
    assert(Bench.isFullRun(
        default.getParent.resolve(".").resolve(default.getFileName).toString + "/",
        all), "the dir is compared after path normalization")
    val files = Bench.sidecars(Bench.DefaultSfDir, all, None)
    assert(files.head == Paths.get("bench_out.json"))
    assert(files.size == 2 && files(1).startsWith(Paths.get("docs", "bench")),
      files)
    assert(Bench.sidecars(Bench.DefaultSfDir, all, Some("/tmp/b.json")).head ==
      Paths.get("/tmp/b.json"))
  }

  test("a subset or another dir writes only SPARK_GRAFT_BENCH_OUT") {
    val subset = SparkEntry.select(Seq("q37_", "q52_"))
    val sibling = Paths.get(Bench.DefaultSfDir).resolveSibling("sf0.01")
    for ((dir, qs) <- Seq(Bench.DefaultSfDir -> subset,
        "/tmp/graft_sfx1" -> all, sibling.toString -> all)) {
      assert(!Bench.isFullRun(dir, qs), dir)
      assert(Bench.sidecars(dir, qs, None).isEmpty, dir)
      assert(Bench.sidecars(dir, qs, Some("/tmp/b.json")) ==
        Seq(Paths.get("/tmp/b.json")), dir)
    }
  }
}
