package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.IngestPipeline
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** One deployment's zones (journal, landing, staging, stream checkpoint)
  * and the write side that fills them: journal files through
  * `IngestPipeline.fileJournalStream` (one file per micro-batch) and
  * `Compactor.compactAll`, each timed and checked, with the layer
  * accounting a traced run reports. */
final class Zones(ctx: Ctx, val root: Path, val gen: JournalGen) {
  val journal: Path = root.resolve("journal")
  val landing: Path = root.resolve("landing")
  val staging: Path = root.resolve("staging")
  private val ckpt = root.resolve("ckpt")
  private val t = ctx.tracer
  private var fileNo = 0
  /** Prefix of the Spark job groups this deployment's compactions run under. */
  private val compactTag = s"compact:${root.getFileName}"

  // accounting of everything written
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  val ingestMs = mutable.ArrayBuffer.empty[Double]
  val compactMs = mutable.ArrayBuffer.empty[Double]
  var rowsWritten = 0L
  var compactRowsIn = 0L
  private var landingFilesAdded = 0L
  private var landingBytesAdded = 0L
  private var landingBytesFolded = 0L
  private var stagingFilesAdded = 0L
  private var stagingBytesAdded = 0L
  private var landingFilesAfterCompaction = 0L

  private val compactor = new TimedCompactor(ctx.spark, landing.toString, staging.toString, t, compactTag,
    (bucket, groups, t0, t1) => if (groups.nonEmpty) {
      compactMs += (t1 - t0) / 1e6
      compactRowsIn += groups.map(g => gen.perGroup.getOrElse((bucket, g), 0L)).sum
    })

  /** Write the lines `mkLines` generates as `files` journal files and
    * ingest them; checks that the sink wrote exactly the valid lines. */
  def ingest(files: Int, group: String, parent: Long)(mkLines: => IndexedSeq[String]): Unit = {
    val valid0 = gen.validLines
    val lines = mkLines
    val per = math.max(1, (lines.size + files - 1) / files)
    lines.grouped(per).foreach { chunk =>
      fileNo += 1
      gen.writeFile(journal, f"part-$fileNo%06d.json", chunk)
    }
    val before = if (t.on) Dirs.files(landing).toSet else Set.empty[Path]
    val i0 = t.now()
    val q = SparkCounters.tagged(ctx.spark.sparkContext, s"ingest:$group", parent) {
      val q = IngestPipeline.fileJournalStream(ctx.spark, journal.toString, landing.toString,
        ckpt.toString, trigger = Trigger.AvailableNow(), groupInterval = JournalGen.GroupInterval,
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      q.awaitTermination()
      q
    }
    val i1 = t.now()
    q.exception.foreach(e => throw e)
    val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val written = ps.map(Zones.rowsWritten).sum
    val want = gen.validLines - valid0
    ctx.result.check(if (written == want) None
      else Some(s"ingest $group wrote $written rows, the journal has $want valid lines"))
    val span = t.record("ingest.run", group, parent, i0, i1)
    ps.foreach { p =>
      val at = java.time.Instant.parse(p.timestamp)
      val b0 = at.getEpochSecond * 1000000000L + at.getNano
      t.record("ingest.batch", group, span, b0, b0 + p.batchDuration * 1000000L)
    }
    progress ++= ps
    ingestMs += (i1 - i0) / 1e6
    rowsWritten += written
    if (t.on) {
      val added = Dirs.files(landing).toSet -- before
      landingFilesAdded += added.size
      landingBytesAdded += added.toSeq.map(Files.size).sum
    }
  }

  /** `Compactor.compactAll` with one output file per bucket. */
  def compact(group: String, parent: Long): Unit = {
    val stagingBefore = if (t.on) Dirs.files(staging).toSet else Set.empty[Path]
    val landingBefore = if (t.on) Dirs.bytes(landing) else 0L
    compactor.group = group
    compactor.parent = parent
    val failures = compactor.compactAll(1)
    require(failures.isEmpty, s"compaction failed: $failures")
    if (t.on) {
      val added = Dirs.files(staging).toSet -- stagingBefore
      stagingFilesAdded += added.size
      stagingBytesAdded += added.toSeq.map(Files.size).sum
      landingBytesFolded += landingBefore - Dirs.bytes(landing)
      landingFilesAfterCompaction = Dirs.files(landing).size
    }
  }

  /** Parquet files a search of `bucket` scans (landing plus staging). */
  def bucketFiles(bucket: String): Int =
    Dirs.files(landing.resolve(s"bucket=$bucket")).size + Dirs.files(staging.resolve(s"bucket=$bucket")).size

  /** The ingest, compact and space metrics of a traced run. */
  def report(r: Result): Unit = {
    val agg = ctx.counters.totals(_.startsWith(compactTag + ":"))
    val batches = progress.toSeq
    r.layer("ingest.rows_per_s") = (rowsWritten / (ingestMs.sum / 1000), "1/s")
    r.layer("ingest.batch_p50_ms") = (Stats.median(batches.map(_.batchDuration.toDouble)), "ms")
    r.layer("ingest.batch_p95_ms") = (Stats.pct(batches.map(_.batchDuration.toDouble), 0.95), "ms")
    r.layer("ingest.add_batch_ms") = (Stats.median(batches.map(Zones.durationMs(_, "addBatch"))), "ms")
    r.layer("ingest.planning_ms") = (Stats.median(batches.map(Zones.durationMs(_, "queryPlanning"))), "ms")
    r.layer("ingest.commit_ms") = (Stats.median(batches.map(Zones.durationMs(_, "commitOffsets"))), "ms")
    r.layer("ingest.rows_in") = (batches.map(_.numInputRows).sum.toDouble, "count")
    r.layer("ingest.rows_written") = (rowsWritten.toDouble, "count")
    r.layer("ingest.files_written") = (landingFilesAdded.toDouble, "count")
    r.layer("ingest.bytes_written") = (landingBytesAdded.toDouble, "bytes")
    r.layer("compact.rows_per_s") = (compactRowsIn / (compactMs.sum / 1000), "1/s")
    r.layer("compact.bucket_s") = (Stats.median(compactMs.toSeq) / 1000, "s")
    r.layer("compact.rows_in") = (compactRowsIn.toDouble, "count")
    r.layer("compact.rows_out") = (agg.outRecords.toDouble, "count")
    r.layer("compact.collapse_ratio") = (Stats.ratio(agg.outRecords.toDouble, compactRowsIn.toDouble), "ratio")
    r.layer("compact.bytes_rewritten_per_input_byte") =
      (Stats.ratio(stagingBytesAdded.toDouble, landingBytesFolded.toDouble), "ratio")
    r.layer("compact.files_out") = (stagingFilesAdded.toDouble, "count")
    r.layer("landing.files") = (landingFilesAfterCompaction.toDouble, "count")
    r.layer("space_amp") = ((Dirs.bytes(landing) + Dirs.bytes(staging)).toDouble / gen.bytes, "ratio")
  }

  /** Snapshot-merge metrics over the searches that rebuilt a snapshot:
    * (request id, live keys of the bucket, files the merge scanned). */
  def reportSnapshots(r: Result, server: TracedServer, cold: Seq[(Long, Int, Int)]): Unit = {
    val builds = cold.filter(c => Option(server.served.get(c._1)).exists(_.rebuilt))
    val groups = builds.map(b => s"req:${b._1}").toSet
    val agg = ctx.counters.totals(groups.contains)
    val n = math.max(1, builds.size).toDouble
    r.layer("snapshot.builds") = (builds.size.toDouble, "count")
    r.layer("snapshot.build_ms") = (Stats.median(builds.flatMap(b => Option(server.served.get(b._1))).map(_.planMs)), "ms")
    r.layer("snapshot.rows_in") = (agg.inRecords / n, "count")
    r.layer("snapshot.rows_out") = (builds.map(_._2).sum / n, "count")
    r.layer("snapshot.files_scanned") = (builds.map(_._3).sum / n, "count")
    r.layer("snapshot.shuffle_bytes") = (agg.shuffleWrite / n, "bytes")
  }
}

object Zones {
  /** Rows the sink wrote in one micro-batch (the `graft_ingest` observed metric). */
  def rowsWritten(p: StreamingQueryProgress): Long =
    Option(p.observedMetrics.get(IngestPipeline.ObservedMetricsName))
      .map(_.getAs[Long]("rows_written")).getOrElse(0L)

  def durationMs(p: StreamingQueryProgress, key: String): Double =
    p.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0)
}
