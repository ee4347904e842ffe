package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache for persisted intermediate DataFrames (the
  * materialized aggregate facts of Relational, the shared shingle table
  * of Dedup, the LSH plane dimension of Similarity).
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

  private val dfs = TrieMap.empty[(String, String), DataFrame]
  private val vals = TrieMap.empty[(String, String), Any]

  // Bench-only instrumentation (VERDICT r12 #2 — per-query bench
  // attribution): when enabled, df() materializes the built frame
  // EAGERLY (one count() populates every persisted partition) and
  // records the build's wall seconds under its key, so consumer
  // queries time only their own work and Bench can emit the shared
  // builds as named setup rows. Off everywhere else: Verify/tests
  // keep the lazy persist (a consumer that reads only part of a
  // cached frame must not pay a full materialization there). Nested
  // builds (a cached df whose builder reads another cached df, e.g.
  // ann_brute -> ann_qsel) do NOT overlap: the inner df() call runs
  // while the OUTER BUILDER expression is being evaluated — i.e.
  // before the outer's persist/count window even opens — and the
  // inner's count() materializes every persisted partition, so the
  // outer's timed count() only READS the inner's cached blocks. Each
  // key's recorded seconds are therefore disjoint wall windows and
  // Bench's per-query sum-subtraction is exact
  // (DfCacheNestingSpec pins this).
  private val buildTimes = TrieMap.empty[(String, String), Double]
  // set on this thread while a timed window is open (df's eager count()
  // under build timing, or a timedValue build): a timed build starting
  // inside one fails instead of double-counting in Bench's subtraction
  private val inTimedBuild = ThreadLocal.withInitial[Boolean](() => false)
  private def timedWindow[T](key: String)(body: => T): T = {
    require(!inTimedBuild.get,
      s"DfCache: timed build '$key' started inside another timed build")
    inTimedBuild.set(true)
    try body finally inTimedBuild.set(false)
  }
  @volatile private var timeBuilds = false
  private[graft] def enableBuildTiming(): Unit = { timeBuilds = true }
  // test hygiene only (DfCacheNestingSpec): Bench never turns it off
  private[graft] def disableBuildTiming(): Unit = { timeBuilds = false }

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

  /** Build-once-per-(session, key) persisted DataFrame (thread-safe:
    * concurrent queries sharing an intermediate get one build). */
  def df(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    hookEviction(spark)
    val k = (sid, key)
    dfs.get(k) match {
      case Some(cached) => cached
      case None => lockFor(k).synchronized {
        dfs.getOrElseUpdate(k, {
          val persisted = build.persist(StorageLevel.MEMORY_AND_DISK)
          if (timeBuilds) timedWindow(key) {
            val t0 = System.nanoTime()
            persisted.count()
            buildTimes.put(k, (System.nanoTime() - t0) / 1e9)
          }
          persisted
        })
      }
    }
  }

  /** Build-once-per-(session, key) plain value (e.g. a probed dimension). */
  def value[T](spark: SparkSession, key: String)(build: => T): T = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    hookEviction(spark)
    val k = (sid, key)
    vals.get(k) match {
      case Some(cached) => cached.asInstanceOf[T]
      case None => lockFor(k).synchronized {
        vals.getOrElseUpdate(k, build).asInstanceOf[T]
      }
    }
  }

  /** [[value]] that ADDITIONALLY records the build's wall seconds under
    * its key when bench build-timing is on (VERDICT r15 #3): for gates
    * whose build is real shared work — the q132/q133/q134/q347 layout
    * writes, the q137/q149 BPE merge loop — so consumer query rows
    * measure the scan/join they exist to measure instead of absorbing
    * whichever rep ran the one-time build. A timed build (a timed df
    * materialization or another timedValue) started INSIDE the gated
    * block fails with a named `require`, timing on or off: the windows
    * would nest and Bench's per-query sum-subtraction double-count.
    * Callers write from plain table reads or from cached frames built
    * BEFORE the gate. Records nothing when timing is off (Verify,
    * tests). */
  def timedValue[T](spark: SparkSession, key: String)(build: => T): T = {
    val sid = org.apache.spark.sql.graft.SessionIds.uuid(spark)
    hookEviction(spark)
    val k = (sid, key)
    vals.get(k) match {
      case Some(cached) => cached.asInstanceOf[T]
      case None => lockFor(k).synchronized {
        vals.getOrElseUpdate(k, timedWindow(key) {
          val t0 = System.nanoTime()
          val v = build
          if (timeBuilds) buildTimes.put(k, (System.nanoTime() - t0) / 1e9)
          v
        }).asInstanceOf[T]
      }
    }
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
    (dfs.keys ++ locks.keys).filter(_._1 == sid).toSet.foreach {
      (k: (String, String)) =>
        lockFor(k).synchronized {
          dfs.remove(k).foreach(_.unpersist(blocking = false))
        }
        locks.remove(k)
    }
    vals.keys.filter(_._1 == sid).foreach(vals.remove)
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
          dfs.clear()
          vals.clear()
          locks.clear()
          hookedApps.remove(appId)
          sc.removeSparkListener(this)
        }
      })
    }
  }
}
