package graft.tools

import graft.{GraftConfig, GraftEngine}
import org.apache.spark.sql.streaming.Trigger

/** Long-lived ingestion entrypoint — the process the reference's master
  * image keeps alive under supervisord (reference:
  * docker/images/docker-spark/master/supervisord.conf runs
  * com.scality.clueso.MetadataIngestionPipeline with an application.conf;
  * the pipeline main is MetadataIngestionPipeline.scala:143-186).
  *
  * Usage: `IngestTool <path/to/graft.conf> [<journalDir>] [<intervalMs>]`
  *
  * Source selection is the config's: a configured `kafka.bootstrap` takes
  * the Kafka journal (the reference's production source; `journalDir` is
  * then unused), otherwise the file journal at `journalDir` — which is
  * required in that case. The stream runs until killed (the supervisor's
  * restart policy owns the lifecycle); `intervalMs` is the micro-batch
  * cadence, default 10 s.
  */
object IngestTool {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: IngestTool <path/to/graft.conf> [<journalDir>] [<intervalMs>]")
    val conf = GraftConfig.fromFile(args(0))
    require(conf.kafkaBootstrap.nonEmpty || args.length > 1,
      "no kafka.bootstrap configured: a <journalDir> argument is required")
    val journalDir = if (args.length > 1) args(1) else ""
    val intervalMs = if (args.length > 2) args(2).toLong else 10000L
    val spark = GraftConfig.cliSession("graft-ingest")
    new GraftEngine(spark, conf)
      .startIngest(journalDir, Trigger.ProcessingTime(intervalMs))
      .awaitTermination()
  }
}
