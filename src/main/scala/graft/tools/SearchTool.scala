package graft.tools

import graft.GraftConfig
import graft.search.{MetadataSearch, SearchQuery}

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
    val spark = GraftConfig.cliSession("graft-search")
    val search = new MetadataSearch(spark, landing, staging)
    search.searchJson(SearchQuery(bucket, where, startKey, limit)).foreach(println)
    spark.stop()
  }
}
