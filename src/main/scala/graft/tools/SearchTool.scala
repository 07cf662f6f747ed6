package graft.tools

import graft.search.{MetadataSearch, SearchQuery}
import org.apache.spark.sql.SparkSession

/** CLI search entrypoint
  * (reference: MetadataQueryExecutor's `main` — bucket + where + limit in,
  * JSON lines out over stdout to the calling gateway).
  *
  * Usage: runMain graft.tools.SearchTool <landingDir> <stagingDir>
  *          <bucket> <whereSql> [limit] [startKey]
  */
object SearchTool {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SearchTool <landingDir> <stagingDir> <bucket> <whereSql> [limit] [startKey]")
    val Array(landing, staging, bucket, where) = args.take(4)
    val limit = if (args.length > 4) args(4).toInt else 1000
    val startKey = if (args.length > 5) Some(args(5)) else None
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-search")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val search = new MetadataSearch(spark, landing, staging)
    search.searchJson(SearchQuery(bucket, where, startKey, limit)).foreach(println)
    spark.stop()
  }
}
