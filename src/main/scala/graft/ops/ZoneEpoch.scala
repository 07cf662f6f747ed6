package graft.ops

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-bucket compaction epoch marker — the cross-process coupling between
  * the compactor and the warm query executor. The reference couples the two
  * through its gateway (compaction completion invalidates the executor's
  * cached session, SessionCacheManager.scala); graft's compactor and server
  * are separate JVMs with no channel between them, so the coupling rides
  * the zone itself: [[graft.compact.Compactor]] stamps a fresh epoch under
  * `bucket=<b>/` after every successful compaction, and
  * [[graft.search.SessionCache]] revalidates the cached snapshot's epoch
  * on every [[graft.search.SearchServer]] request, the cheap check before
  * the bucket's snapshot zone re-lists its files: a changed epoch swaps in
  * the rewritten files' merge exactly once, with no invalidate round-trip.
  *
  * The marker is one `_`-prefixed file (hidden to Spark's file index, so it
  * never pollutes zone scans); reading it is a metadata-sized operation —
  * microseconds on a local FS, one GET on an object store — cheap enough to
  * pay per request.
  */
private[graft] object ZoneEpoch {

  private val Marker = "_graft_epoch"

  private def marker(stagingDir: String, bucket: String): Path =
    new Path(s"$stagingDir/bucket=$bucket/$Marker")

  /** Stamp a fresh epoch for `bucket` (compaction just rewrote its zones). */
  def stamp(spark: SparkSession, stagingDir: String, bucket: String): Unit = {
    val p = marker(stagingDir, bucket)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DerivedZone.writeString(fs, p, UUID.randomUUID().toString)
  }

  /** Current epoch of `bucket`, or "" when never compacted. */
  def read(spark: SparkSession, stagingDir: String, bucket: String): String = {
    val p = marker(stagingDir, bucket)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) DerivedZone.readString(fs, p) else ""
  }
}
