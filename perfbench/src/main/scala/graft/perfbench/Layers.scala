package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call of a registered query, split at the layer boundaries:
  * construct (`SparkEntry.queries(name)(spark, dir)`, including any eager
  * jobs the operator runs while building its DataFrame), plan (forcing
  * `queryExecution.executedPlan`: Catalyst plus the graft.plans rules)
  * and exec (the sink action on the scheduler). */
final case class QueryRun(
    name: String, group: String, pass: Int, client: Int,
    startS: Double, constructS: Double, planS: Double, execS: Double,
    ok: Boolean, error: String, builds: Map[String, Double]) {
  def latencyS: Double = constructS + planS + execS
}

object Layers {
  val PhaseKey = "perfbench.phase"

  /** Seconds since `origin` (System.nanoTime based). */
  def since(origin: Long): Double = (System.nanoTime() - origin) / 1e9

  /** Run one query under its own job group; every job it launches carries
    * the group and the current layer in its local properties, which is
    * how [[LayerListener]] attributes jobs and stages to query and layer.
    * `sink` is the exec action. A failure in any layer is caught and
    * reported in the record, never rethrown. */
  def run(spark: SparkSession, name: String, group: String, pass: Int,
      client: Int, origin: Long, build: () => DataFrame)(
      sink: DataFrame => Unit): QueryRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var err = ""
    try {
      sc.setLocalProperty(PhaseKey, "construct")
      val df = build()
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "exec")
      sink(df)
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.clearJobGroup()
    }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    val builds = graft.sources.DfCache.drainBuildTimes(spark)
    QueryRun(name, group, pass, client, (t0 - origin) / 1e9,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      err.isEmpty, err, builds)
  }

  val noop: DataFrame => Unit =
    df => df.write.format("noop").mode("overwrite").save()

  /** Bytes held in persisted blocks (memory plus disk) right now. */
  def storedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Drop every cached intermediate so the next pass is cold: graft's
    * session-keyed `DfCache`, Spark's cross-session `CacheManager` (a new
    * session would otherwise re-use the cached plans), and every
    * persisted RDD, including `localCheckpoint` blocks. */
  def coldReset(spark: SparkSession): Unit = {
    graft.sources.DfCache.clear(spark)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    graft.sources.DfCache.drainBuildTimes(spark)
  }
}

/** Per-(job group, layer) sums of what the scheduler did. */
final class LayerAgg {
  var jobs, stages, singleTaskStages, tasks, taskFailures = 0L
  var taskS, schedOverheadS, gcS = 0.0
  var shuffleWriteB, shuffleReadB, spillB, inputB, inputRows = 0L
}

/** Counts jobs, stages and tasks per job group and layer, and keeps one
  * span per job and per stage in memory (written out when the run ends).
  * Only attached in traced runs. Listener-bus callbacks arrive on one
  * thread; readers call [[drain]] first. */
final class LayerListener(origin: Long) extends SparkListener {
  private type Key = (String, String)
  private val aggs = mutable.Map.empty[Key, LayerAgg]
  private val stageKeys = mutable.Map.empty[(Int, Int), Key]
  private val stageTasks = mutable.Map.empty[(Int, Int), Array[Double]]
  private val jobStarts = mutable.Map.empty[Int, (Key, Long)]
  // wall clock -> seconds on the run's own (nanoTime) axis
  private val wallOffsetMs =
    System.currentTimeMillis() - (System.nanoTime() - origin) / 1e6
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def key(p: java.util.Properties): Key =
    if (p == null) ("", "")
    else (Option(p.getProperty("spark.jobGroup.id")).getOrElse(""),
      Option(p.getProperty(Layers.PhaseKey)).getOrElse(""))
  private def agg(k: Key) = aggs.getOrElseUpdate(k, new LayerAgg)
  private def t(ms: Long): Double = (ms - wallOffsetMs) / 1e3

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = key(e.properties)
    agg(k).jobs += 1
    jobStarts(e.jobId) = (k, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case ((g, ph), start) =>
      spans += Map("kind" -> "job", "id" -> e.jobId, "group" -> g,
        "layer" -> ph, "start_s" -> t(start), "end_s" -> t(e.time),
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageKeys(id) = key(e.properties)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    // [task count, sum of task seconds, longest task seconds]
    val acc = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      Array(0.0, 0.0, 0.0))
    val dur = e.taskInfo.duration / 1e3
    acc(0) += 1; acc(1) += dur; acc(2) = math.max(acc(2), dur)
    val a = agg(stageKeys.getOrElse((e.stageId, e.stageAttemptId), ("", "")))
    if (e.reason != Success) a.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.gcS += m.jvmGCTime / 1e3
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.spillB += m.diskBytesSpilled
      a.inputB += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val id = (info.stageId, info.attemptNumber())
      val k = stageKeys.remove(id).getOrElse(("", ""))
      val acc = stageTasks.remove(id).getOrElse(Array(0.0, 0.0, 0.0))
      val a = agg(k)
      a.stages += 1
      if (info.numTasks == 1) a.singleTaskStages += 1
      a.tasks += acc(0).toLong
      a.taskS += acc(1)
      val start = info.submissionTime.getOrElse(0L)
      val end = info.completionTime.getOrElse(start)
      a.schedOverheadS += math.max(0.0, (end - start) / 1e3 - acc(2))
      spans += Map("kind" -> "stage", "id" -> info.stageId,
        "attempt" -> info.attemptNumber(), "group" -> k._1, "layer" -> k._2,
        "start_s" -> t(start), "end_s" -> t(end), "tasks" -> info.numTasks,
        "task_s" -> acc(1), "max_task_s" -> acc(2),
        "name" -> info.name.take(120))
    }

  /** Wait until every posted event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc)

  /** Totals per (job group, layer), as plain values. */
  def snapshot(): Seq[Map[String, Any]] = synchronized {
    aggs.toSeq.map { case ((g, ph), a) =>
      Map("group" -> g, "layer" -> ph, "jobs" -> a.jobs,
        "stages" -> a.stages, "single_task_stages" -> a.singleTaskStages,
        "tasks" -> a.tasks, "task_failures" -> a.taskFailures,
        "task_s" -> a.taskS, "sched_overhead_s" -> a.schedOverheadS,
        "gc_s" -> a.gcS, "shuffle_write_b" -> a.shuffleWriteB,
        "shuffle_read_b" -> a.shuffleReadB, "spill_b" -> a.spillB,
        "input_b" -> a.inputB, "input_rows" -> a.inputRows)
    }
  }
}
