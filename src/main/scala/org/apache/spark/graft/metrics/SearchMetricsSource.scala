package org.apache.spark.graft.metrics

import com.codahale.metrics.{Counter, Histogram, MetricRegistry, SlidingWindowReservoir}
import org.apache.spark.SparkEnv
import org.apache.spark.metrics.source.Source

/** Spark metrics source for search activity — the no-egress counterpart
  * of the reference's graphite-backed
  * `SearchMetricsSource` (reference:
  * src/main/scala/org/apache/spark/clueso/metrics/SearchMetricsSource.scala):
  * counters and a latency histogram registered with the executor/driver
  * `MetricsSystem`, so any configured metrics sink (JMX, CSV, Prometheus
  * servlet, …) exports them without the engine knowing about transports.
  *
  * Lives under `org.apache.spark` because `MetricsSystem.registerSource`
  * is `private[spark]` — the same package-placement technique the
  * reference uses for its metrics source.
  */
class SearchMetricsSource extends Source {
  override val sourceName: String = "graft.search"
  override val metricRegistry: MetricRegistry = new MetricRegistry

  /** Searches executed (snapshot plans built). */
  val searchCount: Counter = metricRegistry.counter("searchCount")
  /** Searches that threw during planning or materialization. */
  val searchFailures: Counter = metricRegistry.counter("searchFailures")
  /** Result rows returned by materialized searches. */
  val rowsReturned: Counter = metricRegistry.counter("rowsReturned")
  /** Search snapshots built (new entries of every
    * [[graft.search.SessionCache]] in the process). */
  val snapshotBuilds: Counter = metricRegistry.counter("snapshotBuilds")
  /** Pages over a driver-held snapshot that did not fold to a local
    * relation and were re-planned with `ORDER BY key` (e.g. a WHERE with a
    * scalar subquery); each one runs Spark jobs. */
  val orderedFallbacks: Counter = metricRegistry.counter("orderedFallbacks")
  /** Pages over a driver-held snapshot served from positions already
    * known — the empty WHERE's, or a WHERE folded by an earlier request —
    * so with no plan at all. */
  val pageSlices: Counter = metricRegistry.counter("pageSlices")
  /** End-to-end latency of materialized searches, milliseconds. */
  val latencyMs: Histogram =
    metricRegistry.histogram("latencyMs", () => new Histogram(new SlidingWindowReservoir(1024)))
}

object SearchMetricsSource {
  @volatile private var instance: SearchMetricsSource = _

  /** The process-wide source, registered with the active Spark metrics
    * system on first use (idempotent; safe before SparkEnv exists — the
    * source then only serves in-process reads until a later register).
    */
  def getOrRegister(): SearchMetricsSource = {
    val cur = instance
    if (cur != null) cur
    else synchronized {
      if (instance == null) {
        val s = new SearchMetricsSource
        Option(SparkEnv.get).foreach(_.metricsSystem.registerSource(s))
        instance = s
      }
      instance
    }
  }

  /** Record a materialized search: latency + row count (or a failure). */
  def recordSearch[T](body: => Array[T]): Array[T] = {
    val src = getOrRegister()
    val t0 = System.nanoTime()
    try {
      val rows = body
      src.latencyMs.update((System.nanoTime() - t0) / 1000000L)
      src.rowsReturned.inc(rows.length.toLong)
      rows
    } catch {
      case e: Throwable => src.searchFailures.inc(); throw e
    }
  }
}
