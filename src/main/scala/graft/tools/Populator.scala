package graft.tools

import graft.GraftConfig
import graft.ingest.IngestPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic event generator for perf/integration testing
  * (reference: src/main/scala/com/scality/clueso/tools/LandingMetadataPopulatorTool.scala).
  *
  * Unlike the reference (per-partition `scala.util.Random`), generation is
  * a pure projection over `spark.range` — fully distributed, reproducible
  * across runs and cluster sizes, and codegen-friendly. "Randomness" is
  * md5 of the record id.
  */
object Populator {

  /** `n` synthetic PUT envelopes for `bucket` as raw JSON journal lines
    * (column `value`), ready for [[graft.ingest.IngestPipeline]].
    */
  def journalLines(spark: SparkSession, bucket: String, n: Long,
                   numFiles: Int = 1): DataFrame = {
    val h = md5(conv(col("id").cast("string"), 10, 16))
    val food = when(substring(h, 1, 1) < "8", "pizza").otherwise("pasta")
    val payload = concat(
      lit("""{ "md-model-version":3,"owner-display-name":"Account","owner-id":"o-"""),
      substring(h, 1, 12),
      lit("""","content-length":"""), (abs(hash(col("id"))) % 2048).cast("string"),
      lit(""","last-modified":"2024-01-01T00:00:00.000Z","content-md5":""""), h,
      lit("""","x-amz-version-id":"null","acl":{"Canned":"private","FULL_CONTROL":[],"WRITE_ACP":[],"READ":[],"READ_ACP":[]},"key":"","location":[{"key":""""), h,
      lit("""","size":13,"start":0,"dataStoreName":"file","dataStoreETag":"1:"""), h,
      lit(""""}],"isDeleteMarker":false,"tags":{},"replicationInfo":{"status":"","content":[],"destination":"","storageClass":"","role":""},"dataStoreName":"zone-1","x-amz-meta-food":""""), food,
      lit("""","x-amz-meta-rand":""""), (abs(hash(col("id") * 31)) % 10).cast("string"),
      lit(""""}"""))
    spark.range(0, n, 1, numFiles)
      .select(
        concat(
          lit("""{"opIndex":""""), lpad(col("id").cast("string"), 12, "0"),
          lit("""_000000","type":"put","bucket":""""), lit(bucket),
          lit("""","key":"obj_"""), lpad(col("id").cast("string"), 10, "0"),
          // the payload rides as a nested JSON object; the parser accepts
          // both the nested-object and double-encoded-string forms
          lit("""","value":"""), payload, lit("}")
        ).as("value"))
  }

  /** Generate + parse + write straight into a landing zone. */
  def populateLanding(spark: SparkSession, landingDir: String, bucket: String,
                      n: Long, numFiles: Int = 1, groupInterval: Long = 10000L): Unit =
    IngestPipeline.batchIngest(spark, journalLines(spark, bucket, n, numFiles),
      landingDir, groupInterval = groupInterval)

  /** CLI (reference: LandingMetadataPopulatorTool's main):
    * `runMain graft.tools.Populator <landingDir> <bucket> <n> [numFiles] [groupInterval]`
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Populator <landingDir> <bucket> <nRecords> [numFiles] [groupInterval]")
    val spark = GraftConfig.cliSession("graft-populator")
    populateLanding(spark, args(0), args(1), args(2).toLong,
      if (args.length > 3) args(3).toInt else 1,
      if (args.length > 4) args(4).toLong else 10000L)
    spark.stop()
  }
}
