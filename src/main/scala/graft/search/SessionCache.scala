package graft.search

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import graft.ops.DerivedZone
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.LocalPlans

/** Per-bucket snapshot cache with TTL, epoch revalidation, atomic swap and
  * delayed unpersist (reference:
  * src/main/scala/com/scality/clueso/query/cache/SessionCacheManager.scala).
  *
  * Searches against a hot bucket reuse one materialized snapshot instead of
  * re-merging landing∪staging per request. A snapshot is rebuilt when it is
  * older than `ttlMillis` or when the bucket's epoch (the compaction stamp,
  * [[graft.ops.ZoneEpoch]]) differs from the one it was built at.
  *
  * Two snapshot forms, chosen per build by comparing the bytes the build
  * will read (`inputBytes`, a file listing: no job) with `localMaxBytes`
  * ([[SessionCache.LocalMaxBytes]]; specs may pin another bound), so a
  * large bucket never pays a second merge:
  *
  *  - Driver-held, below the bound: the merged frame is sorted by `key`
  *    BY SPARK (its UTF-8 byte order — Java's UTF-16 `String` order
  *    differs once surrogate pairs meet characters above U+E000), collected
  *    once and kept as a `LocalRelation` of its binary rows. Nothing is
  *    written or persisted, and a page over it folds on the driver with no
  *    Spark job ([[MetadataSearch.searchSnapshot]] with `keySorted`).
  *    Memory: a snapshot holds at most one row per input row, and a
  *    driver-held row measured 5.4–6.5× the parquet bytes per input row
  *    (470–840 B per row, on the `search_warm` buckets and a 40,000-key
  *    `Populator` bucket), so one bucket costs at most about
  *    6.5 × 4 MiB ≈ 26 MiB of driver heap.
  *  - Parquet-backed, at or above the bound: a build writes the merged
  *    frame ONCE to parquet under the zone root
  *    (`DerivedZone.root(spark)/search-snapshot/<uuid>`) and caches a plain
  *    scan of those files. The cached relation therefore carries no merge
  *    lineage: a search plans over one file scan, and Spark can still
  *    recompute evicted blocks by re-reading the files (a zone read, not a
  *    lineage cut) — never the landing files a compactor may purge.
  *
  * Swap and drop: a superseded parquet-backed snapshot (TTL, new epoch,
  * invalidate) is unpersisted and its directory deleted only after
  * `spark.graft.derived.purgeGraceMs` (the zone purge grace), so a request
  * still running on it never loses the files under its scan. A superseded
  * driver-held snapshot is only unreferenced: a request still running on it
  * keeps its rows alive. [[clear]] and [[close]] drop everything at once.
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
class SessionCache private[graft] (ttlMillis: Long, localMaxBytes: Long)
    extends AutoCloseable {

  def this(ttlMillis: Long) = this(ttlMillis, SessionCache.LocalMaxBytes)

  /** `dir` is the parquet directory; None for a driver-held snapshot. */
  private final class Entry(val df: DataFrame, val dir: Option[Path], val builtAt: Long,
                            val epoch: String)

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()
  // superseded parquet-backed entries waiting out the grace delay
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
    * `inputBytes` (the bytes `build` reads) is evaluated only on a miss and
    * picks the snapshot's form; a driver-held snapshot needs a `key`
    * column ([[SessionCache.isDriverHeld]] tells the forms apart).
    */
  def get(bucket: String, epoch: => String = "", inputBytes: => Long = 0L)(
      build: => DataFrame): DataFrame = {
    val e = entries.get(bucket)
    if (fresh(e, epoch)) return e.df
    locks.computeIfAbsent(bucket, _ => new Object).synchronized {
      val ep = epoch
      val cur = entries.get(bucket)
      if (fresh(cur, ep)) cur.df
      else {
        builds.incrementAndGet()
        SearchMetricsSource.getOrRegister().snapshotBuilds.inc()
        val next = if (inputBytes < localMaxBytes) hold(build, ep) else materialize(build, ep)
        val old = entries.put(bucket, next)
        if (old != null) retireLater(old)
        next.df
      }
    }
  }

  /** Collect `df` sorted by `key` and keep its rows on the driver. */
  private def hold(df: DataFrame, epoch: String): Entry =
    new Entry(LocalPlans.collectLocal(df.orderBy(col("key"))), None,
      System.currentTimeMillis(), epoch)

  /** Write `df` to parquet once and cache a scan of the written files. */
  private def materialize(df: DataFrame, epoch: String): Entry = {
    val spark = df.sparkSession
    val dir = new Path(DerivedZone.root(spark), s"search-snapshot/${UUID.randomUUID()}")
    var snap: DataFrame = null
    try {
      df.write.parquet(dir.toString)
      snap = spark.read.schema(df.schema).parquet(dir.toString).persist()
      snap.count() // materialize before publishing
      new Entry(snap, Some(dir), System.currentTimeMillis(), epoch)
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

  private def drop(e: Entry): Unit = e.dir.foreach { dir =>
    try e.df.unpersist(false) catch { case NonFatal(_) => () }
    deleteDir(e.df.sparkSession, dir)
  }

  private def retireLater(e: Entry): Unit = if (e.dir.nonEmpty) {
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

private[graft] object SessionCache {

  /** Input bytes (parquet, landing plus staging) below which a bucket's
    * snapshot is held on the driver — see the class doc for the memory it
    * buys. */
  val LocalMaxBytes: Long = 4L << 20

  /** Whether `snapshot` is the driver-held, key-sorted form. */
  def isDriverHeld(snapshot: DataFrame): Boolean =
    snapshot.queryExecution.logical.isInstanceOf[LocalRelation]

  /** Runs the delayed drops of every cache in the process (daemon: a
    * pending drop never holds the JVM open). */
  lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-snapshot-retire")
      t.setDaemon(true)
      t
    }
}
