package graft.search

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

import graft.model.ObjectEvent
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.LocalPlans
import org.apache.spark.unsafe.types.UTF8String

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
  *  - Driver-held, below the bound ([[SessionCache.Held]]; the frame must
  *    carry a search snapshot's columns): the frame is sorted by `key` BY
  *    SPARK (its UTF-8 byte order — Java's UTF-16 `String` order differs
  *    once surrogate pairs meet characters above U+E000), and ONE collect
  *    job brings back its binary rows together with each row's search
  *    result rendered as JSON — exactly [[MetadataSearch.jsonPage]]'s
  *    `to_json(struct(<ObjectEvent.resultColumns>))`, under the session's
  *    options at build time. A page is then a slice of those rows (see
  *    [[SessionCache.Held]]): no job, and no plan once the WHERE's
  *    positions are cached. Memory: a driver-held row with its rendered
  *    JSON measured 1,212 B of heap by Spark's `SizeEstimator` (856 B
  *    of it the row), 9.1–9.7× the snapshot's parquet bytes per row on
  *    `Populator` buckets of 2,000–120,000 keys, so one bucket costs at
  *    most about 9.7 × 4 MiB ≈ 39 MiB of driver heap, plus its cached
  *    positions: at most [[SessionCache.Folds]] arrays of 4 B per
  *    matching row, ≈ 4 MiB at the bound's 34,000 rows.
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
  * request still running on it keeps its rows alive, and its cached
  * positions go with it.
  *
  * Session options: the JSON is rendered, and a WHERE's positions folded,
  * under the session's options of that moment (time zone, ANSI mode, case
  * sensitivity, …). A change to them reaches a driver-held page only when
  * the entry is next rebuilt — new files after a TTL expiry — or
  * [[invalidate]]d.
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

  import SessionCache.{Entry, Held}

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private val builds = new AtomicLong(0L)
  private val ownPlan = lit(s"graft-session-cache-${SessionCache.ids.incrementAndGet()}").isNotNull

  /** Snapshot entries made since construction. */
  def rebuilds: Long = builds.get()

  private def fresh(e: Entry): Boolean =
    e != null && System.currentTimeMillis() - e.builtAt < ttlMillis

  /** The entry for `bucket` if it is younger than the TTL: no lock, no
    * build. */
  private[search] def hit(bucket: String): Option[Entry] =
    Option(entries.get(bucket)).filter(fresh)

  /** The cached snapshot for `bucket`, revalidated against `build` when
    * absent or older than the TTL. The bytes of the files behind `build`'s
    * frame pick a new entry's form. */
  def get(bucket: String)(build: => DataFrame): DataFrame = entry(bucket)(build).df

  /** [[get]]'s entry: the snapshot served, and its driver-held rows if it
    * has that form. */
  private[search] def entry(bucket: String)(build: => DataFrame): Entry =
    hit(bucket).getOrElse(locks.computeIfAbsent(bucket, _ => new Object).synchronized {
      val cur = entries.get(bucket)
      if (fresh(cur)) cur
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
            if (SessionCache.fileBytes(source) < localMaxBytes) {
              val held = Held.collect(source)
              Entry(source, held.df, Some(held), now)
            } else Entry(source, persist(source.where(ownPlan)), None, now)
          }
        entries.put(bucket, next)
        next
      }
    })

  private def persist(df: DataFrame): DataFrame = {
    df.persist()
    try { df.count(); df } // materialize before publishing
    catch { case NonFatal(err) => df.unpersist(false); throw err }
  }

  /** Unpersist a persisted entry. */
  private def drop(e: Entry): Unit =
    if (e.held.isEmpty)
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

  /** WHERE texts whose positions one driver-held entry keeps. */
  val Folds: Int = 32

  private val ids = new AtomicLong(0L)

  /** `source` is the frame `build` returned; `df` the form served, and
    * `held` its rows when it is driver-held. */
  private[search] final case class Entry(source: DataFrame, df: DataFrame,
                                         held: Option[Held], builtAt: Long)

  /** Bytes of the files `df` reads, summed from the file indexes Spark
    * built when the frame was made: no listing, no job. */
  private def fileBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.sizeInBytes
        case _ => 0L
      }
    }.sum

  /** A driver-held snapshot: its rows in Spark's `key` order, each row's
    * key, and each row's rendered JSON. A page over it is a slice of
    * positions — indexes into the rows, in key order:
    *  - the positions a WHERE keeps are folded once per WHERE text, on the
    *    driver ([[fold]]) — except the empty WHERE's, every row a master
    *    listing shows, which are known at build;
    *  - a cursor is a binary search over the positions for the first key
    *    above it, in UTF-8 byte order, and a page the next `limit` of them
    *    ([[slice]]).
    *
    * The last [[Folds]] WHERE texts' positions are cached, least recently
    * used first out. A WHERE that is nondeterministic or reads the clock
    * (`rand()`, `now()`, `current_date()`, …, judged on the analysed
    * expression) is folded on every request and never cached.
    */
  private[search] final class Held private (val df: DataFrame, rows: Array[InternalRow],
                                            keys: Array[UTF8String], json: Array[String]) {

    private val output = df.queryExecution.analyzed.output
    private val result = ObjectEvent.resultColumns.map(c => output.indexWhere(_.name == c)).toArray
    private val resultOutput = result.toSeq.map(output)

    /** The empty WHERE's positions: every key without a NUL. */
    private val live: Array[Int] = keys.indices.filterNot(i => keys(i).contains(Held.Nul)).toArray

    private val folds = new java.util.LinkedHashMap[String, Array[Int]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Int]]): Boolean =
        size() > Folds
    }

    /** The positions `where` keeps, if known without a fold. */
    def cached(where: String): Option[Array[Int]] =
      if (where.isEmpty) Some(live) else folds.synchronized(Option(folds.get(where)))

    /** Fold `where` and the NUL-key filter over the rows on the driver
      * (Spark's `ConvertToLocalRelation`), keeping only `key`, and map the
      * keys kept to their positions. `None` when the plan does not fold to
      * a local relation (a WHERE the driver cannot evaluate, such as a
      * scalar subquery). */
    def fold(where: String): Option[Array[Int]] = {
      val kept = df.where(where).filter(MetadataSearch.isMasterKey).select(col("key"))
      kept.queryExecution.optimizedPlan match {
        case l: LocalRelation =>
          val pos = l.data.iterator.map(r => positionOf(r.getUTF8String(0))).toArray
          if (!Held.variesPerRun(kept.queryExecution.analyzed))
            folds.synchronized(folds.put(where, pos))
          Some(pos)
        case _ => None
      }
    }

    private def positionOf(key: UTF8String): Int = {
      val i = java.util.Arrays.binarySearch(keys, key, Held.byteOrder)
      require(i >= 0, s"folded key $key is not a snapshot key")
      i
    }

    /** The page of `pos` past `startKey`, at most `limit` rows. */
    def slice(pos: Array[Int], startKey: Option[String], limit: Int): Slice = {
      var from = 0
      startKey.foreach { k =>
        val cursor = UTF8String.fromString(k)
        var hi = pos.length
        while (from < hi) {
          val mid = (from + hi) >>> 1
          if (keys(pos(mid)).binaryCompare(cursor) <= 0) from = mid + 1 else hi = mid
        }
      }
      new Slice(pos, from, from + math.min(limit, pos.length - from))
    }

    /** Positions `pos(from until until)` of this snapshot. */
    final class Slice private[Held] (pos: Array[Int], from: Int, until: Int) {

      /** The page as a local relation of the result columns. */
      val page: DataFrame = LocalPlans.ofPlan(df.sparkSession, LocalRelation(resultOutput,
        ArraySeq.unsafeWrapArray(Array.tabulate[InternalRow](until - from) { i =>
          val row = rows(pos(from + i))
          new GenericInternalRow(result.map(o => row.get(o, output(o).dataType)))
        })))

      /** The page's rows as the JSON rendered at build. */
      def json: Array[String] = Array.tabulate(until - from)(i => Held.this.json(pos(from + i)))
    }
  }

  private[search] object Held {

    private val Nul = UTF8String.fromString("\u0000")

    private val byteOrder: java.util.Comparator[UTF8String] = (a, b) => a.binaryCompare(b)

    /** Whether a plan's result can differ between two runs over the same
      * rows: a nondeterministic expression, or one that reads the clock. */
    private def variesPerRun(plan: LogicalPlan): Boolean =
      plan.exists(_.expressions.exists(e => !e.deterministic || e.containsPattern(CURRENT_LIKE)))

    /** Sort `source` by `key` and collect it in one job, each row with its
      * search result rendered as JSON. */
    def collect(source: DataFrame): Held = {
      val sorted = source.orderBy(col("key"))
      val rendered = sorted.select(col("*"),
        MetadataSearch.toJson(ObjectEvent.resultColumns).as("graft_json"))
      val qe = rendered.queryExecution
      val collected = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
      val output = sorted.queryExecution.analyzed.output
      val project = UnsafeProjection.create(output, qe.analyzed.output)
      val rows = collected.map(r => project(r).copy(): InternalRow)
      val key = output.indexWhere(_.name == "key")
      new Held(
        LocalPlans.ofPlan(source.sparkSession, LocalRelation(output, ArraySeq.unsafeWrapArray(rows))),
        rows, rows.map(_.getUTF8String(key)), collected.map(_.getUTF8String(output.size).toString))
    }
  }
}
