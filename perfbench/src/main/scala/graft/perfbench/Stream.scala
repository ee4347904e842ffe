package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.Streams

/** stream_ingest: an open loop over `graft.streaming.Streams`.
  *
  * run.py splits the events table into time-ordered parquet files under
  * `<data>/stream/staged`. During the timed window a generator thread
  * moves one file into the watched directory every `seconds / files`
  * seconds. Two queries tail that directory through `Streams.eventsStream`:
  * `tumblingCountsStreaming` into a checkpointed parquet append sink, and
  * `foreachBatch(Streams.upsertBatch)`; starting them and waiting until
  * both are idle is the workload's set-up. The window ends when both have
  * committed the last file. A flush file then closes the open event-time
  * windows (untimed) so run.py can compare both sinks with their batch
  * equivalents. */
object Stream {

  private final case class Dirs(root: String) {
    val watch = s"$root/watch"
    val counts = s"$root/counts"
    val upsert = s"$root/upsert"
    def ckpt(q: String) = s"$root/ckpt_$q"
  }

  def run(o: Main.Opts, report: mutable.Map[String, Any]): Seq[Map[String, Any]] = {
    def files(sub: String): Seq[Path] =
      Files.list(Paths.get(o.data, "stream", sub)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val staged = files("staged")
    require(staged.nonEmpty, s"no staged event files under ${o.data}/stream/staged")
    report("oracles") = Map("q44_tumbling_window" ->
      graft.SparkEntry.oracleSql.get("q44_tumbling_window"))
    val sinkS = new ConcurrentLinkedQueue[Map[String, Any]]()
    var running = Seq.empty[StreamingQuery]
    val dirs = Dirs(s"${o.out}/stream")

    def land(f: Path, d: Dirs): Unit =
      Files.move(f, Paths.get(d.watch, f.getFileName.toString))
    val prefill: SparkSession => Unit = spark => {
      running = start(spark, dirs, sinkS)
      awaitIdle(running)
    }
    // the warm-up runs a second pair of the same queries on a directory
    // of its own, so the timed pair's sinks hold only the window's files
    val warm: SparkSession => Unit = spark => {
      val wd = Dirs(s"${o.out}/stream_warm")
      val qs = start(spark, wd, sinkS, "_warm")
      awaitIdle(qs)
      files("warm").foreach { f => land(f, wd); qs.foreach(_.processAllAvailable()) }
      qs.foreach(_.stop())
    }
    val teardown: SparkSession => Unit = _ => running.foreach(_.stop())
    val spark = Main.setUp(o, report)(prefill, warm, teardown)
    if (o.setupOnly) return Seq.empty
    sinkS.clear()

    val origin = System.nanoTime()
    val listener = if (o.trace) Some(new LayerListener(origin)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val progress = new ProgressLog(spark)
    spark.streams.addListener(progress)
    val wall0 = System.currentTimeMillis()
    def wallMs(nanos: Long): Double = wall0 + (nanos - origin) / 1e6
    val interval = o.seconds * 1e9 / staged.size
    val landings = mutable.ArrayBuffer.empty[Map[String, Any]]
    val generator = new Thread(() => staged.zipWithIndex.foreach { case (f, i) =>
      val due = origin + (i * interval).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      val at = System.nanoTime()
      land(f, dirs)
      landings += Map("file" -> f.getFileName.toString, "scheduled_ms" -> wallMs(due),
        "landed_ms" -> wallMs(at), "late_s" -> (at - due) / 1e9)
    })
    generator.start()
    generator.join()
    running.foreach(_.processAllAvailable())
    report("window_s") = Layers.since(origin)
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark.sparkContext)
    report("storage_peak_b") = progress.peak
    report("progress") = progress.events.asScala.toSeq
    report("sink_calls") = sinkS.asScala.toSeq
    report("landings") = landings.toSeq
    report("stream_groups") = running.map(q => q.runId.toString -> q.name).toMap

    // untimed: close the open windows, then stop
    files("flush").foreach(land(_, dirs))
    running.foreach(_.processAllAvailable())
    running.foreach(_.stop())
    report("sinks") = Map("watch" -> dirs.watch, "counts" -> dirs.counts,
      "upsert" -> dirs.upsert, "counts_ckpt" -> dirs.ckpt("counts"),
      "upsert_ckpt" -> dirs.ckpt("upsert"))
    listener.map { l =>
      l.drain(spark.sparkContext)
      report("layers") = l.snapshot()
      l.spans.toSeq
    }.getOrElse(Seq.empty)
  }

  private def start(spark: SparkSession, d: Dirs,
      sinkS: ConcurrentLinkedQueue[Map[String, Any]],
      nameSuffix: String = ""): Seq[StreamingQuery] = {
    Files.createDirectories(Paths.get(d.watch))
    val counts = Streams.tumblingCountsStreaming(Streams.eventsStream(spark, d.watch))
      .writeStream.format("parquet").outputMode("append").queryName("counts" + nameSuffix)
      .option("path", d.counts).option("checkpointLocation", d.ckpt("counts"))
      .start()
    val upsert: (DataFrame, Long) => Unit = (batch, id) => {
      val t0 = System.nanoTime()
      Streams.upsertBatch(d.upsert)(batch, id)
      sinkS.add(Map("batch" -> id, "sink_s" -> (System.nanoTime() - t0) / 1e9))
    }
    val merged = Streams.eventsStream(spark, d.watch)
      .writeStream.foreachBatch(upsert).queryName("upsert" + nameSuffix)
      .option("checkpointLocation", d.ckpt("upsert"))
      .start()
    Seq(counts, merged)
  }

  /** Block until every query has started and is waiting for input. */
  private def awaitIdle(qs: Seq[StreamingQuery]): Unit = {
    val until = System.nanoTime() + 60L * 1000000000L
    while (qs.exists(q => q.status.isTriggerActive || !q.status.message.startsWith("Waiting"))) {
      qs.foreach(_.exception.foreach(e => throw e))
      require(System.nanoTime() < until, "streaming queries did not start within 60 s")
      Thread.sleep(5)
    }
  }

  /** One record per micro-batch, plus the peak of persisted-block bytes
    * and streaming state bytes seen at any batch end. */
  private final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val stateB = mutable.Map.empty[String, Long]
    @volatile var peak: Long = Layers.storedBytes(spark.sparkContext)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.map(_.memoryUsedBytes).sum
      events.add(Map("query" -> p.name, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_b" -> state))
      synchronized {
        stateB(p.name) = state
        peak = math.max(peak, Layers.storedBytes(spark.sparkContext) + stateB.values.sum)
      }
    }
  }
}
