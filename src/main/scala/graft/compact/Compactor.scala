package graft.compact

import graft.model.ObjectEvent
import graft.ops.LatestState
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Folds accumulated landing op-groups into the staging zone
  * (reference: src/main/scala/com/scality/clueso/compact/TableFilesCompactor.scala).
  *
  * Layout: `{zone}/bucket=&lt;b&gt;/opGroup=&lt;g&gt;/...parquet`. For each bucket, every
  * op-group except the newest (still being appended by the streaming
  * writer) is read, collapsed to the latest event per key, appended to
  * staging, and then purged from landing. Tombstones are KEPT: a delete
  * whose put was compacted earlier must still shadow that staged put, so
  * only the snapshot merge (which sees landing ∪ staging) drops deleted
  * keys — the reference's split too (its compaction only dedupes;
  * MetadataQueryExecutor.scala:178-184 filters `type != 'delete'`).
  *
  * The streaming sink's commit log (`landing/_spark_metadata`) is left
  * alone: the sink keeps numbering its batches across restarts and its
  * log compaction needs the earlier batch files. Every reader (searches,
  * the compactor itself) reads `bucket=` partition directories, which
  * Spark lists directly without consulting the log, so purged op-groups
  * never shadow anything.
  *
  * Scale posture: compaction is per-(bucket, op-group slice) — reads are
  * partition-pruned, the merge is the argmax-join [[LatestState]]
  * (map-side combine), and output files are `repartition(n)`-sized so the
  * staging zone keeps a bounded file count regardless of ingest churn.
  * A staging-side lock file serializes concurrent compactor runs
  * (reference: TableFilesCompactor.scala:196-200).
  *
  * The compactor shares no file protocol with a resident
  * [[graft.search.SearchServer]]: a compaction keeps every key's latest
  * event, so a snapshot cached before it stays correct, and the server sees
  * the rewritten files at its next TTL revalidation (their fingerprint
  * changed).
  *
  * @param purgeToleranceMs grace period between the staging append and
  *   the landing purge: a search that listed the landing files *before*
  *   compaction finished may still be reading them, so deleting
  *   immediately fails those queries mid-scan (FileNotFoundException).
  *   Compacted rows are readable from staging the moment the append
  *   commits, so during the window the data is merely duplicated — and
  *   the snapshot merge dedupes by (key, opIndex), making the overlap
  *   harmless (reference: TableFilesCompactor.scala:175-178,
  *   landingPurgeTolerance).
  */
class Compactor(spark: SparkSession, landingDir: String, stagingDir: String,
                purgeToleranceMs: Long = 0L) {

  private val fs: FileSystem =
    new Path(landingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val partDirPattern = "([A-Za-z0-9_]+)=(.*)".r

  private def subdirValues(parent: Path): Seq[String] =
    if (!fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq
      .filter(_.isDirectory)
      .flatMap(s => partDirPattern.findFirstMatchIn(s.getPath.getName).map(_.group(2)))

  /** Buckets present in landing. */
  def landingBuckets(): Seq[String] = subdirValues(new Path(landingDir))

  /** Op-groups eligible for compaction: all but the newest, unless forced
    * (reference: TableFilesCompactor.getSubpartitionsToCompact).
    */
  def groupsToCompact(bucket: String, force: Boolean): Seq[Long] = {
    val groups = subdirValues(new Path(s"$landingDir/bucket=$bucket")).map(_.toLong).sorted
    if (force) groups
    else if (groups.length > 1) groups.dropRight(1)
    else Seq.empty
  }

  /** Compact every landing bucket, isolating per-bucket failures: one
    * bucket's error (e.g. a held lock) must not starve the rest
    * (reference logs and continues per bucket). Returns the failures.
    */
  def compactAll(numPartitions: Int, force: Boolean = false): Map[String, Throwable] =
    landingBuckets().flatMap { b =>
      try { compactBucket(b, numPartitions, force); None }
      catch { case scala.util.control.NonFatal(e) => Some(b -> e) }
    }.toMap

  def compactBucket(bucket: String, numPartitions: Int, force: Boolean = false): Unit = {
    val lock = new Path(s"$stagingDir/_merging")
    fs.mkdirs(new Path(stagingDir))
    if (!fs.createNewFile(lock)) {
      throw new IllegalStateException(
        s"compaction lock held ($lock); delete it to force")
    }
    try {
      val groups = groupsToCompact(bucket, force)
      if (groups.nonEmpty) {
        val landing = spark.read
          .option("basePath", landingDir)
          .schema(ObjectEvent.storedSchema)
          .parquet(s"$landingDir/bucket=$bucket")
          .filter(col("opGroup").isin(groups: _*)) // partition-pruned

        val merged = LatestState.snapshot(
          landing, keyCols = Seq("key"), versionCol = "opIndex",
          isDelete = lit(false))

        merged
          .repartition(numPartitions)
          .drop("bucket")
          .write
          .partitionBy("opGroup")
          .mode(SaveMode.Append)
          .parquet(s"$stagingDir/bucket=$bucket")

        // two-phase purge: staging now serves these rows; wait out the
        // tolerance so searches that planned over the old landing files
        // finish before the files disappear
        if (purgeToleranceMs > 0) Thread.sleep(purgeToleranceMs)
        groups.foreach { g =>
          fs.delete(new Path(s"$landingDir/bucket=$bucket/opGroup=$g"), true)
        }
      }
    } finally {
      fs.delete(lock, false)
      ()
    }
  }
}
