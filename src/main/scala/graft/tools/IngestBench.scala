package graft.tools

import graft.ingest.IngestPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Measured ingestion throughput — the quantitative face of the resident
  * streaming pipeline (reference: MetadataIngestionPipeline.scala:170-180's
  * triggered micro-batch loop; graft: [[graft.ingest.IngestPipeline]]).
  *
  * The benchmark's `search_warm` workload measures the READ side's
  * warm-snapshot serving; this measures the WRITE side: sustained
  * micro-batches of synthetic journal envelopes
  * ([[Populator.journalLines]] — the same generator the populator tool
  * ships) through the full parse → filter → observe →
  * partitioned-parquet-sink path, at two or more per-batch data rates.
  *
  * Method: per rate, pre-write `batches` journal files of `batchRows`
  * envelopes each (one file = one micro-batch via `maxFilesPerTrigger=1`,
  * consecutive opIndex ranges so op-groups advance the way a live journal's
  * do), then drain with `Trigger.AvailableNow` and read per-batch wall
  * times from the query's progress events. File-count pacing, not
  * sleep-based pacing: deterministic batch boundaries, no scheduler
  * jitter in the denominator. Reported per rate:
  *  - `rows_per_sec_sustained` — total rows / total stream wall (includes
  *    stream startup + every batch's plan/commit overhead),
  *  - `rows_per_sec_processing` — total rows / Σ batchDuration,
  *  - `p50_batch_ms` / `p95_batch_ms` — steady-state micro-batch latency
  *    (first batch dropped: it pays source listing + sink init).
  *
  * A correctness guard re-reads the landing zone and requires exactly
  * `batches × batchRows` rows — a throughput number over dropped rows
  * would be meaningless.
  *
  * Usage: `runMain graft.tools.IngestBench [batchRows,batchRows,...] [batchesPerRate]`
  */
object IngestBench {

  private case class RateResult(batchRows: Int, batches: Int, wallSec: Double,
                                sustained: Double, processing: Double,
                                p50Ms: Double, p95Ms: Double)

  private def runRate(spark: SparkSession, batchRows: Int, batches: Int): RateResult = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_ingest_bench_$batchRows")
    val input = root.resolve("journal").toString
    val landing = root.resolve("landing").toString
    val ckpt = root.resolve("ckpt").toString

    // B part-files of batchRows consecutive envelopes each — the journal
    // "arrives" pre-split so maxFilesPerTrigger=1 yields exactly B batches
    Populator.journalLines(spark, f"ib$batchRows%d", batchRows.toLong * batches, batches)
      .write.text(input)

    val t0 = System.nanoTime()
    val q = IngestPipeline.fileJournalStream(spark, input, landing, ckpt,
      trigger = Trigger.AvailableNow(),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val progress = q.recentProgress.filter(_.numInputRows > 0)
    require(progress.length == batches,
      s"expected $batches micro-batches, saw ${progress.length} — pacing broke")
    val landed = spark.read.parquet(landing).count()
    require(landed == batchRows.toLong * batches,
      s"landing holds $landed rows, expected ${batchRows.toLong * batches}")

    val durations = progress.map(_.batchDuration.toDouble)
    val steady = durations.drop(1).sorted
    def pct(p: Double): Double = steady(((steady.length - 1) * p).toInt)
    RateResult(batchRows, batches, wallSec,
      sustained = batchRows.toLong * batches / wallSec,
      processing = batchRows.toLong * batches / (durations.sum / 1000.0),
      p50Ms = pct(0.5), p95Ms = pct(0.95))
  }

  def main(args: Array[String]): Unit = {
    val rates = if (args.length > 0) args(0).split(",").map(_.trim.toInt).toSeq
                else Seq(10000, 100000)
    val batches = if (args.length > 1) args(1).toInt else 12
    // steady-state percentiles drop the first (cold) batch, so one batch
    // leaves nothing to measure — fail as a usage error, not an
    // IndexOutOfBoundsException from pct() on an empty array
    require(batches >= 2,
      s"batchesPerRate must be >= 2 (got $batches): batch 1 is discarded " +
        "as warm-up, so at least one steady-state batch is required")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = rates.map(r => runRate(spark, r, batches))
      val rateJson = results.map { r =>
        s"""{"batch_rows":${r.batchRows},"batches":${r.batches},""" +
          s""""wall_sec":${"%.2f".format(r.wallSec)},""" +
          s""""rows_per_sec_sustained":${"%.0f".format(r.sustained)},""" +
          s""""rows_per_sec_processing":${"%.0f".format(r.processing)},""" +
          s""""p50_batch_ms":${"%.0f".format(r.p50Ms)},""" +
          s""""p95_batch_ms":${"%.0f".format(r.p95Ms)}}"""
      }.mkString(",")
      val json = s"""{"metric":"ingest_bench","rates":[$rateJson],""" +
        s""""total_rows":${results.map(r => r.batchRows.toLong * r.batches).sum}}"""
      println(json)
      sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
    } finally spark.stop()
  }
}
