package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

/** Continuous metadata ingestion: journal events → parsed, filtered,
  * partitioned parquet landing zone
  * (reference: src/main/scala/com/scality/clueso/MetadataIngestionPipeline.scala:143-186).
  *
  * The transform stage is source-agnostic ([[EventParser.parse]] is a plain
  * `DataFrame => DataFrame`), so the same parse/filter/sink serves:
  *  - the production Kafka source ([[kafkaJournalStream]], matching the
  *    reference's `readStream.format("kafka")` at
  *    MetadataIngestionPipeline.scala:162-168), and
  *  - a file-based journal ([[fileJournalStream]]) for brokerless
  *    deployments and tests.
  *
  * The sink partitions by `(bucket, opGroup)`: searches prune to one
  * bucket, compaction prunes to closed op-groups, and the newest op-group
  * is the only partition with in-flight appends.
  */
object IngestPipeline {

  private val rawSchema = new StructType().add("value", StringType)

  /** Name under which [[journalStream]] publishes per-batch data-quality
    * metrics (rows written, delete-marker share) — read them from
    * `StreamingQueryProgress.observedMetrics`. */
  val ObservedMetricsName = "graft_ingest"

  /** Kafka-shaped frame (binary `key`/`value` + topic/partition/offset
    * metadata) → journal lines: the value payload cast to string, ready
    * for [[EventParser.parse]]. Factored out so the Kafka transform is
    * exercisable without a broker (the wire contract is just the column
    * shape).
    */
  def fromKafkaFrame(kafka: DataFrame): DataFrame =
    kafka.select(col("value").cast("string").as("value"))

  /** One JSON envelope per line under `inputDir` → landing.
    * `sourceOptions` passes file-source knobs through (e.g.
    * `maxFilesPerTrigger` to bound the micro-batch size — the file
    * journal's analogue of the Kafka source's `maxOffsetsPerTrigger`).
    */
  def fileJournalStream(spark: SparkSession, inputDir: String, landingDir: String,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        excludeBucket: String = "",
                        groupInterval: Long = 10000L,
                        sourceOptions: Map[String, String] = Map.empty): StreamingQuery = {
    val raw = spark.readStream
      .schema(rawSchema)
      .options(sourceOptions)
      .text(inputDir)
    journalStream(raw, landingDir, checkpointDir, trigger, excludeBucket, groupInterval)
  }

  /** Production source: Kafka metadata journal → landing
    * (reference: MetadataIngestionPipeline.scala:162-168). Requires the
    * spark-sql-kafka connector on the runtime classpath; the transform and
    * sink are byte-for-byte the ones the file journal uses.
    */
  def kafkaJournalStream(spark: SparkSession, bootstrap: String, topic: String,
                         landingDir: String, checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow(),
                         excludeBucket: String = "",
                         groupInterval: Long = 10000L): StreamingQuery = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .load()
    journalStream(fromKafkaFrame(raw), landingDir, checkpointDir, trigger,
      excludeBucket, groupInterval)
  }

  /** Any streaming frame with a string `value` column → landing: the one
    * parse and sink behind every source (the file and Kafka journals, the
    * memory stream the Kafka spec drives, custom sources). The `observe`
    * call attaches data-quality counters to the SAME pass that writes the
    * batch — no second job, no sampling — surfaced per micro-batch in the
    * query's progress events (the streaming face of the
    * SearchMetricsSource counters).
    */
  def journalStream(raw: DataFrame, landingDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow(),
                    excludeBucket: String = "",
                    groupInterval: Long = 10000L): StreamingQuery =
    EventParser.parse(raw, "value", excludeBucket, groupInterval)
      .observe(ObservedMetricsName,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows_written"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.when(col("type") === "delete", 1))
          .as("delete_markers"))
      .writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .format("parquet")
      .partitionBy("bucket", "opGroup")
      .option("checkpointLocation", checkpointDir)
      .option("path", landingDir)
      .start()

  /** Batch backfill of the same pipeline (identical transform + layout). */
  def batchIngest(spark: SparkSession, raw: DataFrame, landingDir: String,
                  excludeBucket: String = "", groupInterval: Long = 10000L): Unit = {
    EventParser.parse(raw, "value", excludeBucket, groupInterval)
      .write
      .partitionBy("bucket", "opGroup")
      .mode("append")
      .parquet(landingDir)
  }
}
