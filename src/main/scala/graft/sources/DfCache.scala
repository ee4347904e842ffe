package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped build-once cache for shared intermediates: persisted
  * DataFrames (the materialized aggregate facts of Relational, the
  * shared shingle table of Dedup) and plain values (a probed dimension,
  * a layout written once).
  *
  * Keyed by `spark.sessionUUID` — stable and collision-free, unlike an
  * identityHashCode which can be reused after GC and would pin plans of
  * stopped sessions forever (ADVICE.md r01). Eviction: automatic when
  * the application (SparkContext) ends; Spark exposes no session-close
  * hook, so a long-lived context hosting many short-lived sessions
  * should call [[clear]] when done with a session — entries of a
  * stopped session are inert but stay registered until then.
  */
private[graft] object DfCache {

  private val vals = TrieMap.empty[(String, String), Any]

  // Build seconds per key, recorded when timing is on (Bench and
  // perfbench drain them as setup rows). Each key records its SELF
  // time: `nested` is this thread's running total of build seconds,
  // and a build subtracts whatever the builds it ran inside itself
  // added to it. Any nesting (df in df, value in df, df in value) then
  // records every second under exactly one key, so the recorded keys
  // of one query sum to the wall time its outermost builds took.
  private val buildTimes = TrieMap.empty[(String, String), Double]
  private val nested = ThreadLocal.withInitial[Double](() => 0.0)
  @volatile private var timeBuilds = false
  private[graft] def enableBuildTiming(): Unit = { timeBuilds = true }

  /** Remove and return this session's recorded build times (key ->
    * seconds), for one bench rep. */
  private[graft] def drainBuildTimes(spark: SparkSession): Map[String, Double] = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    val mine = buildTimes.keys.filter(_._1 == sid).toSeq
    mine.flatMap(k => buildTimes.remove(k).map(k._2 -> _)).toMap
  }
  // one eviction listener per CONTEXT (keyed by applicationId), not per
  // session: a long-lived context hosting many short-lived sessions must
  // not accumulate one listener per session on the bus (ADVICE.md r03 —
  // the old per-session listeners only removed themselves at application
  // end, exactly when it no longer mattered)
  private val hookedApps = TrieMap.empty[String, Boolean]

  // builds run under a PER-KEY lock: TrieMap.getOrElseUpdate is atomic
  // for the INSERT but not the builder, so two concurrent callers could
  // both build+persist and one persisted frame would leak unreferenced.
  // Per-key (not global) locking keeps unrelated builds parallel — one
  // thread materializing a slow intermediate must not serialize every
  // other cache miss in the JVM.
  private val locks = TrieMap.empty[(String, String), Object]
  private def lockFor(k: (String, String)): Object =
    locks.getOrElseUpdate(k, new Object)

  /** Build-once-per-(session, key) value (thread-safe: concurrent
    * callers get one build). A build that throws caches and records
    * nothing. */
  def value[T](spark: SparkSession, key: String)(build: => T): T = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    hookEviction(spark)
    val k = (sid, key)
    vals.get(k) match {
      case Some(cached) => cached.asInstanceOf[T]
      case None => lockFor(k).synchronized {
        vals.getOrElseUpdate(k, {
          val before = nested.get
          val t0 = System.nanoTime()
          val v = build
          val wall = (System.nanoTime() - t0) / 1e9
          if (timeBuilds) buildTimes.put(k, wall - (nested.get - before))
          nested.set(before + wall)
          v
        }).asInstanceOf[T]
      }
    }
  }

  /** [[value]] over a persisted DataFrame, materialized EAGERLY: one
    * `count()` populates every partition inside the build, so no later
    * job computes a cached block a second time and every consumer plans
    * against the cached relation's real size. */
  def df(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    value(spark, key) {
      val persisted = build.persist(StorageLevel.MEMORY_AND_DISK)
      try persisted.count()
      catch { case e: Throwable => persisted.unpersist(); throw e }
      persisted
    }

  /** Unpersist and drop every entry for this session (used by Bench to
    * make repeated timed runs pay the full build cost each time).
    * Removal synchronizes on each key's build lock, so an in-flight
    * build of a KNOWN key completes before its entry is dropped; a
    * build whose key was never seen when clear runs can still land
    * after it — callers needing a guaranteed-cold session must
    * quiesce their own query threads first. */
  def clear(spark: SparkSession): Unit = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    (vals.keys ++ locks.keys).filter(_._1 == sid).toSet.foreach {
      (k: (String, String)) =>
        lockFor(k).synchronized {
          vals.remove(k).foreach {
            case d: Dataset[_] => d.unpersist(blocking = false)
            case _ => ()
          }
        }
        locks.remove(k)
    }
  }

  private def hookEviction(spark: SparkSession): Unit = {
    val appId = spark.sparkContext.applicationId
    if (hookedApps.putIfAbsent(appId, true).isEmpty) {
      val sc = spark.sparkContext
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = {
          // the context is going away, taking every session's executor
          // storage with it — drop ALL registrations (this JVM hosts one
          // context at a time; entries are only reachable through it)
          vals.clear()
          locks.clear()
          hookedApps.remove(appId)
          sc.removeSparkListener(this)
        }
      })
    }
  }
}
