package graft.tools

import graft.GraftConfig
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Zone statistics for operators: parquet file count, byte sizes, record
  * counts per zone/bucket
  * (reference: src/main/scala/com/scality/clueso/tools/MetadataStorageInfoTool.scala
  * + SparkUtils.scala:117-146).
  */
object StorageInfo {

  case class ZoneStats(path: String, parquetFiles: Long, totalBytes: Long,
                       avgFileBytes: Long, records: Long)

  def zoneStats(spark: SparkSession, dir: String): ZoneStats = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    var bytes = 0L
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          files += 1
          bytes += f.getLen
        }
      }
    }
    val records =
      if (files == 0) 0L
      else spark.read.parquet(dir).count()
    ZoneStats(dir, files, bytes, if (files == 0) 0 else bytes / files, records)
  }

  /** CLI (reference: MetadataStorageInfoTool via bin/info.sh): one JSON
    * line of zone statistics per directory argument.
    * `runMain graft.tools.StorageInfo <zoneDir> [zoneDir ...]`
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StorageInfo <zoneDir> [zoneDir ...]")
    val spark = GraftConfig.cliSession("graft-storage-info")
    args.foreach { dir =>
      val s = zoneStats(spark, dir)
      println(s"""{"path":"${s.path}","parquetFiles":${s.parquetFiles},""" +
        s""""totalBytes":${s.totalBytes},"avgFileBytes":${s.avgFileBytes},""" +
        s""""records":${s.records}}""")
    }
    spark.stop()
  }
}
