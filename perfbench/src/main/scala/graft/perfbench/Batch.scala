package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational
import graft.sources.DfCache

/** The two query workloads.
  *
  *   - adhoc_sql: `cpus` clients in a closed loop on one warm session,
  *     taking queries from a shared sequence of the list's cycles, each
  *     cycle in a seeded order; the two warehouse facts are built during
  *     set-up.
  *   - iterative: one client running the list in order, pass after pass,
  *     with every cache dropped before each pass.
  *
  * Before timing, every query runs once with its result written to
  * `<out>/results/<name>` for the oracle check, and the timed loop then
  * runs once untimed to bring the JIT to steady state; both are reported
  * apart from the timed window. The timed window runs
  * for `seconds`: the closed loop stops issuing queries at the deadline,
  * iterative runs whole passes until it has passed (at least one). */
object Batch {

  def run(o: Main.Opts, report: mutable.Map[String, Any]): Seq[Map[String, Any]] = {
    val registry = graft.SparkEntry.queries
    val unknown = o.queries.filterNot(registry.contains)
    require(o.queries.nonEmpty && unknown.isEmpty,
      s"query list is empty or names unregistered queries: ${unknown.mkString(", ")}")
    val list = o.queries.map(n => n -> registry(n))
    val adhoc = o.workload == "adhoc_sql"
    report("oracles") = o.queries.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap
    val origin = System.nanoTime()
    def result(name: String): DataFrame => Unit =
      df => df.coalesce(1).write.mode("overwrite").parquet(s"${o.out}/results/$name")

    val prefill: SparkSession => Unit = spark =>
      if (adhoc) {
        Relational.productFacts(spark, o.data)
        Relational.repFacts(spark, o.data)
        report("prefill_builds") = DfCache.drainBuildTimes(spark)
      } else report("prefill_builds") = Map.empty
    // all queries at once on `cpus` threads: the pass only has to produce
    // the results and warm the JIT, and cold-JIT time is most of a run
    var checkRuns = Seq.empty[QueryRun]
    val warm: SparkSession => Unit = spark => {
      if (!adhoc) Layers.coldReset(spark)
      checkRuns = parallel(o.cpus, list) { case ((n, f), i) =>
        Layers.run(spark, n, s"check:$i", 0, 0, origin, () => f(spark, o.data))(result(n))
      }
    }
    val spark = Main.setUp(o, report)(prefill, warm)
    if (o.setupOnly) return Seq.empty

    val rnd = new scala.util.Random(o.seed)
    val cycles = Seq.fill(200)(rnd.shuffle(list)).flatten.toIndexedSeq
    // the loop the window times, run untimed first: one execution of each
    // query leaves the JIT far from steady (latencies keep falling for
    // about ten seconds of this loop)
    def loop(tag: String, seconds: Double): (Seq[QueryRun], Seq[Map[String, Any]]) = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      if (adhoc) {
        // the clients share one queue: the list over and over, each cycle
        // in a seeded order, so every window runs the same mix of queries
        val next = new java.util.concurrent.atomic.AtomicInteger(0)
        val perClient = parallel(o.cpus, 0 until o.cpus) { case (c, _) =>
          val out = mutable.ArrayBuffer.empty[QueryRun]
          while (System.nanoTime() < deadline) {
            val i = next.getAndIncrement()
            val (n, f) = cycles(i % cycles.size)
            out += Layers.run(spark, n, s"$tag:$i", i / list.size + 1,
              c, origin, () => f(spark, o.data))(Layers.noop)
          }
          out.toSeq
        }
        (perClient.flatten, Seq.empty)
      } else {
        val all = mutable.ArrayBuffer.empty[QueryRun]
        val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
        while (passes.isEmpty || System.nanoTime() < deadline) {
          Layers.coldReset(spark)
          val p = passes.size + 1
          val t0 = Layers.since(origin)
          all ++= list.map { case (n, f) =>
            Layers.run(spark, n, s"$tag:$p:$n", p, 0, origin, () => f(spark, o.data))(Layers.noop)
          }
          passes += Map("pass" -> p, "start_s" -> t0, "wall_s" -> (Layers.since(origin) - t0))
        }
        (all.toSeq, passes.toSeq)
      }
    }
    val l0 = System.nanoTime()
    loop("warm", o.seconds)
    report("warm_loop_s") = Layers.since(l0)

    val listener = if (o.trace) Some(new LayerListener(origin)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val peak = new AtomicLong(Layers.storedBytes(spark.sparkContext))
    @volatile var sampling = true
    val sampler = new Thread(() => while (sampling) {
      peak.accumulateAndGet(Layers.storedBytes(spark.sparkContext), math.max)
      Thread.sleep(100)
    })
    sampler.start()
    val w0 = Layers.since(origin)
    val (runs, passes) = loop("t", o.seconds)
    sampling = false
    sampler.join()
    report("window_s") = Layers.since(origin) - w0
    report("storage_peak_b") = peak.get
    report("passes") = passes
    report("check_queries") = checkRuns.map(record)
    report("queries") = runs.map(record)
    listener.map { l =>
      l.drain(spark.sparkContext)
      report("layers") = l.snapshot()
      l.spans.toSeq ++ runs.flatMap(spans)
    }.getOrElse(Seq.empty)
  }

  def record(r: QueryRun): Map[String, Any] = Map(
    "name" -> r.name, "group" -> r.group, "pass" -> r.pass,
    "client" -> r.client, "start_s" -> r.startS,
    "construct_s" -> r.constructS, "plan_s" -> r.planS, "exec_s" -> r.execS,
    "ok" -> r.ok, "error" -> r.error, "builds" -> r.builds)

  /** The query span and its construct, plan and exec children. */
  def spans(r: QueryRun): Seq[Map[String, Any]] = {
    val ends = Seq(r.constructS, r.planS, r.execS).scanLeft(r.startS)(_ + _)
    Map("kind" -> "query", "group" -> r.group, "name" -> r.name,
      "start_s" -> r.startS, "end_s" -> ends.last, "ok" -> r.ok) +:
      Seq("construct", "plan", "exec").zipWithIndex.map { case (layer, i) =>
        Map("kind" -> "layer", "group" -> r.group, "layer" -> layer,
          "start_s" -> ends(i), "end_s" -> ends(i + 1))
      }
  }

  /** Map over `items` on `threads` threads, results in input order; each
    * thread takes the next item when it finishes one. */
  def parallel[A, B](threads: Int, items: Seq[A])(f: ((A, Int)) => B): Seq[B] = {
    val out = new Array[Any](items.size)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (0 until math.min(threads, items.size)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < items.size) {
          out(i) = f((items(i), i))
          i = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    out.toSeq.map(_.asInstanceOf[B])
  }
}
