package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The one loop that times registered queries. Executes the selected
  * queries on SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Queries are materialized through the `noop` sink so the FULL plan
  * (including sorts/limits that `count()` would let Catalyst prune) is
  * executed, matching what Verify pays when writing parquet.
  *
  * Knobs (all env): SPARK_GRAFT_BENCH_ONLY=q52_,q113_ann_pq times a
  * comma-separated subset (exact names or prefixes, resolved by
  * [[SparkEntry.select]]); SPARK_GRAFT_BENCH_REPS (default 3);
  * SPARK_GRAFT_BENCH_OUT names the JSON sidecar; SPARK_GRAFT_PROFILE_STAGES=1
  * adds one stderr line per completed Spark stage.
  *
  * A dev run is any run but the full registry on [[DefaultSfDir]]. It
  * prints one stderr line per query per rep (wall, own seconds and the
  * setup rows drained in that query's window) and leaves the committed
  * sidecars alone ([[sidecars]]). A profile is a subset run; a scaling
  * measurement is two runs that differ only in SPARK_GRAFT_SF_DIR
  * (docs/SCALE.md "Measured scaling").
  */
object Bench {
  val DefaultSfDir = "/root/testdata/sf0.1"

  /** The run the committed sidecars record: every registered query on
    * [[DefaultSfDir]] (compared after path normalization). */
  def isFullRun(sfDir: String, selected: Seq[QueryDef]): Boolean =
    selected.size == SparkEntry.all.size &&
      Paths.get(sfDir).toAbsolutePath.normalize ==
        Paths.get(DefaultSfDir).toAbsolutePath.normalize

  /** Files a run writes its full JSON to. Only a full run writes the
    * committed `bench_out.json` (or `benchOut`) and the round sidecar
    * `docs/bench/r{N}.json`; any other run writes only to `benchOut`. */
  def sidecars(sfDir: String, selected: Seq[QueryDef],
      benchOut: Option[String]): Seq[Path] =
    if (isFullRun(sfDir, selected))
      Seq(Paths.get(benchOut.getOrElse("bench_out.json")), roundSidecar)
    else benchOut.map(Paths.get(_)).toSeq

  // DURABLE per-round artifact: the round's captured
  // BENCH_r{N}.json keeps only a truncated stdout tail, so the CURRENT
  // round is 1 + the highest committed BENCH_r*.json and the full line
  // goes to docs/bench/r{N}.json, committed with the round.
  private def roundSidecar: Path = {
    val re = "BENCH_r(\\d+)\\.json".r
    val last = Option(new java.io.File(".").list()).toSeq.flatten
      .collect { case re(n) => n.toInt }.maxOption.getOrElse(0)
    Paths.get("docs", "bench", f"r${last + 1}%02d.json")
  }

  // per-stage wall + task-time lines, for attributing a rep's cost to
  // specific exchanges/scans (the r13 q37 diagnosis recipe)
  private val stageLines = new SparkListener {
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val si = ev.stageInfo
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield (c - s) / 1000.0).getOrElse(-1.0)
      val cpu = si.taskMetrics.executorRunTime / 1000.0
      val where = si.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("Bench"))
        .getOrElse("").trim.take(90)
      System.err.println(f"[stage] id=${si.stageId}%4d wall=$wall%6.2fs " +
        f"taskSum=$cpu%7.2fs tasks=${si.numTasks}%3d " +
        si.name.linesIterator.next().take(60) + " | " + where)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val selected = SparkEntry.select(only).sortBy(_.name)
    val dev = !isFullRun(sfDir, selected)
    val spark = DevSession.make()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up: run every selected query once on the smallest
    // SF so the timed loop measures the engine, not JIT + first-classload
    // + codegen compilation (generated classes are cached by source, so
    // the same plan shapes at sfDir hit the cache). sf0.001 keys differ
    // from sfDir's, so the timed run still pays its own fact/shingle builds.
    selected.foreach { q =>
      try q.run(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      }
    }
    if (sys.env.getOrElse("SPARK_GRAFT_PROFILE_STAGES", "0") == "1")
      spark.sparkContext.addSparkListener(stageLines)
    // OS page-cache warm of the measured dir (plain byte read, no Spark
    // state touched): a cluster reads hot storage; the bench shouldn't
    // fold one cold `cat` of the input into whichever query runs first.
    // Walked, not listed: a Spark-written table (ScaleSmoke's dirs) is a
    // directory of part files, and reading a directory would throw.
    try {
      Files.walk(Paths.get(sfDir)).forEach { p =>
        if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          Files.readAllBytes(p)
      }
    } catch { case _: Throwable => () }
    // Best-of-N (default 3 since round 13): the host this runs on shows
    // intermittent external CPU contention (identical code measured
    // 57s..214s across runs). Each rep clears the session intermediate
    // cache first, so EVERY rep pays the full fact/shingle builds — the
    // min filters interference without hiding real work.
    //
    // Shared-build attribution (VERDICT r12 #2): DfCache build timing
    // is enabled AFTER the warmup, so each shared intermediate (brute
    // ground truth, shingle tables, centroid/codebook models, layout
    // writes, probed scalars) records its build seconds and is reported
    // as its own `setup` row — consumer queries time only their own
    // work. Timing only records: every route builds the same way.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    graft.sources.DfCache.enableBuildTiming()
    val runs = (1 to reps).map { rep =>
      graft.sources.DfCache.clear(spark)
      graft.sources.DfCache.drainBuildTimes(spark) // discard warmup/stale
      val repSetup = scala.collection.mutable.Map.empty[String, Double]
      val qTimes = selected.map { q =>
        val t0 = System.nanoTime()
        val ok =
          try {
            q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // SUBTRACT the shared-build seconds that landed inside this
        // query's window (round 14): a DfCache build runs inside
        // whichever consumer FIRST touches it, so draining per-QUERY
        // makes "consumers time only their own work" true and the total
        // count each second exactly once. Each key records its SELF
        // time (nested builds excluded), so the keys drained here sum to
        // the seconds of the query's outermost builds and subtracting
        // them is exact (clamped at 0 against clock noise).
        val built = graft.sources.DfCache.drainBuildTimes(spark)
        built.foreach { case (k, v) => repSetup(k) = v }
        val own = math.max(dt - built.values.sum, 0.0)
        if (dev) System.err.println(
          f"[bench] ${q.name} rep$rep: $dt%.3f s  own=$own%.3f" +
            (if (built.isEmpty) ""
             else built.toSeq.sortBy(-_._2)
               .map { case (k, v) => f"${k.takeWhile(_ != '|')}=$v%.2f" }
               .mkString(" [setup ", " ", "]")))
        // a failed rep's time-to-failure must not become the reported
        // minimum; -1 in the output flags an all-reps failure loudly
        q.name -> (if (ok) Some(own) else None)
      }
      (qTimes.toMap, repSetup.toMap)
    }
    val results = selected.map { q =>
      val ts = runs.flatMap(_._1(q.name))
      q.name -> (if (ts.nonEmpty) ts.min else -1.0)
    }
    // per-query max/min ratio across reps: the machine-visible noise
    // band (a row with spread >> 1 says "this number is host noise, not
    // a plan"). The SIDECAR files carry every query's spread
    // (BenchRegressionSpec needs a per-query noise band for ALL rows);
    // the STDOUT line keeps only the worst 20, because the captured
    // artifact keeps a stdout tail and a full map would evict query rows.
    val allSpreads = selected.flatMap { q =>
      val ts = runs.flatMap(_._1(q.name))
      if (ts.size >= 2 && ts.min > 0) Some(q.name -> ts.max / ts.min)
      else None
    }
    val spreads = allSpreads.sortBy(-_._2).take(20)
    // setup rows: min across reps per cache key; the "|<dir>" suffix is
    // dropped for readability (one bench run measures one dir)
    val setupRows = runs.flatMap(_._2.toSeq)
      .groupBy(_._1).map { case (k, vs) =>
        k.takeWhile(_ != '|') -> vs.map(_._2).min
      }.toSeq.sortBy(_._1)
    // 4-decimal values (0.1ms resolution — below host noise): the
    // driver's artifact keeps only a tail of this line, so every byte
    // saved per entry is more queries surviving into BENCH_r{N}.json.
    // Locale.ROOT: a comma decimal separator from a non-English default
    // locale would make the JSON invalid (ADVICE r09).
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f",
        Double.box(v))
    val qs = results
      .map { case (k, v) =>
        "\"" + k + "\":" + (if (v < 0) "-1" else num(v, 4))
      }
      .mkString("{", ",", "}")
    val setup = setupRows
      .map { case (k, v) => "\"" + k + "\":" + num(v, 4) }
      .mkString("{", ",", "}")
    // value = queries + setup; each build second is counted exactly ONCE
    // (subtracted from the consumer it ran inside, reported as its setup
    // row)
    val total = results.map(_._2).sum + setupRows.map(_._2).sum
    def spreadJson(entries: Seq[(String, Double)]): String = entries
      .map { case (k, v) => "\"" + k + "\":" + num(v, 2) }
      .mkString("{", ",", "}")
    // "cpus" comes from the session's ACTUAL master (VERDICT r15 #2):
    // the driver cross-checks that $SPARK_GRAFT_CPUS took effect from
    // the data (see docs/SCALE.md "Scaling probe").
    val cpus = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master)
      .map(_.group(1).toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    def jsonLine(spread: String): String =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","cpus":$cpus,"queries":$qs,"setup":$setup,"spread":$spread,"sf":"$sfDir"}"""
    // stdout: worst-20 spread (truncation-safe); sidecars: all queries.
    // Captured stdout keeps only a tail, so the full JSON also goes to
    // the sidecar files.
    println(jsonLine(spreadJson(spreads)))
    val fileLine = jsonLine(spreadJson(allSpreads.sortBy(_._1)))
    sidecars(sfDir, selected, sys.env.get("SPARK_GRAFT_BENCH_OUT")).foreach { p =>
      try {
        Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
        Files.writeString(p, fileLine + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
