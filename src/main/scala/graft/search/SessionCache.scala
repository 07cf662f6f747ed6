package graft.search

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import graft.ops.DerivedZone
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-bucket snapshot cache with TTL, epoch revalidation, atomic swap and
  * delayed unpersist (reference:
  * src/main/scala/com/scality/clueso/query/cache/SessionCacheManager.scala).
  *
  * Searches against a hot bucket reuse one materialized snapshot instead of
  * re-merging landing∪staging per request. A snapshot is rebuilt when it is
  * older than `ttlMillis` or when the bucket's epoch (the compaction stamp,
  * [[graft.ops.ZoneEpoch]]) differs from the one it was built at.
  *
  * Parquet-backed snapshots: a build writes the merged frame ONCE to
  * parquet under the zone root
  * (`DerivedZone.root(spark)/search-snapshot/<uuid>`) and caches a plain
  * scan of those files. The cached relation therefore carries no merge
  * lineage: a search plans over one file scan, and Spark can still
  * recompute evicted blocks by re-reading the files (a zone read, not a
  * lineage cut) — never the landing files a compactor may purge.
  *
  * Swap and drop: a superseded snapshot (TTL, new epoch, invalidate) is
  * unpersisted and its directory deleted only after
  * `spark.graft.derived.purgeGraceMs` (the zone purge grace), so a request
  * still running on it never loses the files under its scan. [[clear]] and
  * [[close]] drop everything at once.
  *
  * Locking: rebuilds and epoch revalidation serialize on a PER-BUCKET lock
  * object (the semantics of the reference's per-bucket lock set,
  * SessionCacheManager.scala:77-84) — deliberately NOT inside
  * `ConcurrentHashMap.compute`, whose contract wants short, simple
  * functions. Readers of a fresh entry never take the lock; a miss
  * re-reads the epoch under the lock, so two requests that both saw a
  * stale epoch rebuild once, and a request holding an older epoch than the
  * published one does not rebuild at all. Other buckets proceed on their
  * own locks.
  */
class SessionCache(ttlMillis: Long) extends AutoCloseable {

  private final class Entry(val df: DataFrame, val dir: Path, val builtAt: Long,
                            val epoch: String)

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()
  // superseded entries waiting out the grace delay
  private val retiring = ConcurrentHashMap.newKeySet[Entry]()
  private val builds = new AtomicLong(0L)

  /** Snapshot builds (cache misses) since construction. */
  def rebuilds: Long = builds.get()

  private def fresh(e: Entry, epoch: String): Boolean =
    e != null && e.epoch == epoch && System.currentTimeMillis() - e.builtAt < ttlMillis

  /** The cached snapshot for `bucket`, (re)building it from `build` when
    * absent, older than the TTL, or built at another epoch. `epoch` is
    * evaluated once per call and, on a miss, again under the bucket lock —
    * the epoch read under the lock is the one the new snapshot records.
    */
  def get(bucket: String, epoch: => String = "")(build: => DataFrame): DataFrame = {
    val e = entries.get(bucket)
    if (fresh(e, epoch)) return e.df
    locks.computeIfAbsent(bucket, _ => new Object).synchronized {
      val ep = epoch
      val cur = entries.get(bucket)
      if (fresh(cur, ep)) cur.df
      else {
        builds.incrementAndGet()
        val next = materialize(build, ep)
        val old = entries.put(bucket, next)
        if (old != null) retireLater(old)
        next.df
      }
    }
  }

  /** Write `df` to parquet once and cache a scan of the written files. */
  private def materialize(df: DataFrame, epoch: String): Entry = {
    val spark = df.sparkSession
    val dir = new Path(DerivedZone.root(spark), s"search-snapshot/${UUID.randomUUID()}")
    var snap: DataFrame = null
    try {
      df.write.parquet(dir.toString)
      snap = spark.read.schema(df.schema).parquet(dir.toString).persist()
      snap.count() // materialize before publishing
      new Entry(snap, dir, System.currentTimeMillis(), epoch)
    } catch {
      case NonFatal(err) =>
        if (snap != null) snap.unpersist(false)
        deleteDir(spark, dir)
        throw err
    }
  }

  private def deleteDir(spark: SparkSession, dir: Path): Unit =
    try {
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      ()
    } catch { case NonFatal(_) => () } // best effort, like the zone purge

  private def drop(e: Entry): Unit = {
    try e.df.unpersist(false) catch { case NonFatal(_) => () }
    deleteDir(e.df.sparkSession, e.dir)
  }

  private def retireLater(e: Entry): Unit = {
    retiring.add(e)
    SessionCache.timer.schedule(
      (() => if (retiring.remove(e)) drop(e)): Runnable,
      DerivedZone.purgeGraceMs(e.df.sparkSession), TimeUnit.MILLISECONDS)
    ()
  }

  /** Drop a bucket's snapshot (its zones were rewritten); the files stay
    * for the grace delay so requests already running on it finish. */
  def invalidate(bucket: String): Unit =
    locks.computeIfAbsent(bucket, _ => new Object).synchronized {
      val e = entries.remove(bucket)
      if (e != null) retireLater(e)
    }

  /** Drop every snapshot, current and retiring, now. */
  def clear(): Unit = {
    entries.keySet.forEach { b =>
      val e = entries.remove(b)
      if (e != null) drop(e)
    }
    retiring.forEach(e => if (retiring.remove(e)) drop(e))
  }

  override def close(): Unit = clear()
}

private object SessionCache {
  /** Runs the delayed drops of every cache in the process (daemon: a
    * pending drop never holds the JVM open). */
  lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-snapshot-retire")
      t.setDaemon(true)
      t
    }
}
