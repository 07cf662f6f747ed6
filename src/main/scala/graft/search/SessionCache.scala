package graft.search

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.LocalPlans

/** Per-bucket snapshot cache with TTL and atomic swap (reference:
  * src/main/scala/com/scality/clueso/query/cache/SessionCacheManager.scala).
  *
  * Searches against a hot bucket reuse one snapshot instead of re-merging
  * landing∪staging per request. Freshness is one rule: a hit younger than
  * `ttlMillis` is served as it is, with no check and no file I/O; an older
  * entry, or none, is revalidated by calling `build`, which for
  * [[SearchServer]] is a [[graft.ops.DerivedZone]] read keyed by the
  * fingerprint of the bucket's files. The zone returns the SAME frame while
  * that fingerprint holds, and then the entry is kept as it is — its time
  * refreshed, nothing collected, persisted or counted. Only a different
  * frame (the files changed, or no entry) makes a new entry. A compaction
  * is seen at the next revalidation like any other change of files;
  * [[invalidate]] drops an entry so the next request revalidates now.
  *
  * Two snapshot forms, chosen per entry by comparing the bytes of the
  * files the frame reads (for [[SearchServer]], the published snapshot's
  * parquet, which Spark's file index listed when the zone read was made:
  * no further listing, no job) with `localMaxBytes`
  * ([[SessionCache.LocalMaxBytes]]; specs may pin another bound). A frame
  * over no files counts 0 bytes:
  *
  *  - Driver-held, below the bound: the frame is sorted by `key` BY SPARK
  *    (its UTF-8 byte order — Java's UTF-16 `String` order differs once
  *    surrogate pairs meet characters above U+E000), collected once and
  *    kept as a `LocalRelation` of its binary rows. A page over it folds on
  *    the driver with no Spark job ([[MetadataSearch.searchSnapshot]] with
  *    `keySorted`). Memory: a driver-held row measured 6.3–6.7× the
  *    snapshot's parquet bytes per row (836 B per row by Spark's
  *    `SizeEstimator`, on `Populator` buckets of 2,000–120,000 keys), so
  *    one bucket costs at most about 6.7 × 4 MiB ≈ 27 MiB of driver heap.
  *  - Persisted, at or above the bound: the frame (for the server, a
  *    plain scan of the zone's published parquet) is persisted and counted
  *    once, under a plan of this cache's own (an always-true filter on a
  *    per-cache literal): Spark keys its cache by plan, and two caches over
  *    the same zone files must not evict each other's on unpersist. It
  *    carries no merge lineage, so evicted blocks are re-read from the zone
  *    files — never the landing files a compactor may purge.
  *
  * Swap: a superseded persisted entry (new files, [[invalidate]]) is
  * unpersisted at swap time. A page already planned over it recomputes the
  * evicted blocks from the zone files, which the zone's pruning keeps for
  * at least `spark.graft.derived.purgeGraceMs` from the publish that
  * superseded them. A superseded driver-held entry is only unreferenced: a
  * request still running on it keeps its rows alive.
  *
  * Locking: revalidation serializes on a PER-BUCKET lock object (the
  * semantics of the reference's per-bucket lock set,
  * SessionCacheManager.scala:77-84) — deliberately NOT inside
  * `ConcurrentHashMap.compute`, whose contract wants short, simple
  * functions. Readers of a fresh entry never take the lock; a miss
  * re-checks freshness under the lock, so requests that queued behind a
  * revalidation are served its entry and do not build again. Other
  * buckets proceed on their own locks.
  */
class SessionCache private[graft] (ttlMillis: Long, localMaxBytes: Long)
    extends AutoCloseable {

  def this(ttlMillis: Long) = this(ttlMillis, SessionCache.LocalMaxBytes)

  import SessionCache.Entry

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private val builds = new AtomicLong(0L)
  private val ownPlan = lit(s"graft-session-cache-${SessionCache.ids.incrementAndGet()}").isNotNull

  /** Snapshot entries made since construction. */
  def rebuilds: Long = builds.get()

  private def fresh(e: Entry): Boolean =
    e != null && System.currentTimeMillis() - e.builtAt < ttlMillis

  /** The snapshot for `bucket` if its entry is younger than the TTL: no
    * lock, no build. */
  def hit(bucket: String): Option[DataFrame] =
    Option(entries.get(bucket)).filter(fresh).map(_.df)

  /** The cached snapshot for `bucket`, revalidated against `build` when
    * absent or older than the TTL. The bytes of the files behind `build`'s
    * frame pick a new entry's form; a driver-held snapshot needs a `key`
    * column ([[SessionCache.isDriverHeld]] tells the forms apart).
    */
  def get(bucket: String)(build: => DataFrame): DataFrame =
    hit(bucket).getOrElse(locks.computeIfAbsent(bucket, _ => new Object).synchronized {
      val cur = entries.get(bucket)
      if (fresh(cur)) cur.df
      else {
        val source = build
        val now = System.currentTimeMillis()
        val next =
          if (cur != null && (cur.source eq source)) cur.copy(builtAt = now)
          else {
            builds.incrementAndGet()
            SearchMetricsSource.getOrRegister().snapshotBuilds.inc()
            // before persisting the new frame: one with the same plan shares
            // the old one's cache entry, and unpersisting after would drop it
            if (cur != null) drop(cur)
            Entry(source,
              if (SessionCache.fileBytes(source) < localMaxBytes)
                LocalPlans.collectLocal(source.orderBy(col("key")))
              else persist(source.where(ownPlan)),
              now)
          }
        entries.put(bucket, next)
        next.df
      }
    })

  private def persist(df: DataFrame): DataFrame = {
    df.persist()
    try { df.count(); df } // materialize before publishing
    catch { case NonFatal(err) => df.unpersist(false); throw err }
  }

  /** Unpersist a persisted entry. */
  private def drop(e: Entry): Unit =
    if (!SessionCache.isDriverHeld(e.df))
      try { e.df.unpersist(false); () } catch { case NonFatal(_) => () }

  /** Drop a bucket's snapshot; the next request makes a new entry. A
    * bucket never built has no lock, and none is made for it. */
  def invalidate(bucket: String): Unit =
    Option(locks.get(bucket)).foreach(_.synchronized {
      Option(entries.remove(bucket)).foreach(drop)
    })

  /** Drop every snapshot now. */
  def clear(): Unit =
    entries.keySet.forEach(b => Option(entries.remove(b)).foreach(drop))

  override def close(): Unit = clear()
}

private[graft] object SessionCache {

  /** Snapshot bytes (the published snapshot's parquet) below which a
    * bucket's snapshot is held on the driver — see the class doc for the
    * memory it buys. */
  val LocalMaxBytes: Long = 4L << 20

  private val ids = new AtomicLong(0L)

  /** `source` is the frame `build` returned; `df` the form served. */
  private final case class Entry(source: DataFrame, df: DataFrame, builtAt: Long)

  /** Bytes of the files `df` reads, summed from the file indexes Spark
    * built when the frame was made: no listing, no job. */
  private def fileBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.sizeInBytes
        case _ => 0L
      }
    }.sum

  /** Whether `snapshot` is the driver-held, key-sorted form. */
  def isDriverHeld(snapshot: DataFrame): Boolean =
    snapshot.queryExecution.logical.isInstanceOf[LocalRelation]
}
