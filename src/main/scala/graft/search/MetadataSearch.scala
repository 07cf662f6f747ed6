package graft.search

import graft.model.ObjectEvent
import graft.ops.LatestState
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** A metadata search request (reference:
  * src/main/scala/com/scality/clueso/query/MetadataQuery.scala).
  *
  * @param bucket   bucket whose live snapshot is searched
  * @param where    arbitrary SQL boolean expression over the flattened
  *                 metadata columns ("" = match all)
  * @param startKey keyset-pagination cursor: only keys strictly greater
  * @param limit    page size
  */
case class SearchQuery(bucket: String, where: String = "",
                       startKey: Option[String] = None, limit: Int = 1000)

/** An S3 ListObjectsV2-style listing request over a bucket's live
  * snapshot (the reusable API behind the oracle-gated
  * `list_objects`/`list_versions` query shapes in
  * [[graft.analytics.CluesoOps]]).
  *
  * @param bucket     bucket whose snapshot is listed
  * @param prefix     only keys starting with this prefix
  * @param delimiter  "" → flat listing of objects; non-empty → keys with a
  *                   delimiter occurrence AFTER the prefix roll up into one
  *                   `common_prefix` row per delimiter-bounded group
  * @param startAfter keyset cursor: only names strictly greater
  * @param maxKeys    page size (objects + common prefixes combined)
  */
case class ListRequest(bucket: String, prefix: String = "",
                       delimiter: String = "",
                       startAfter: Option[String] = None, maxKeys: Int = 1000)

/** Executes metadata searches over the landing ∪ staging zones
  * (reference: src/main/scala/com/scality/clueso/query/MetadataQueryExecutor.scala).
  *
  * Scale posture:
  *  - both zones are partitioned by `bucket=` (and `opGroup=`), so a search
  *    scans exactly one bucket's files — partition pruning by construction;
  *  - the snapshot merge is the argmax-join form of [[LatestState]] (no
  *    per-partition sort, map-side combine);
  *  - pagination is keyset-based (`key > cursor`), and `ORDER BY key
  *    LIMIT n` is planned by Spark as TakeOrderedAndProject — per-partition
  *    top-n + driver merge of n-row heaps, never a global sort.
  */
class MetadataSearch(spark: SparkSession, landingDir: String, stagingDir: String) {

  private def zone(dir: String, bucket: String): DataFrame = {
    val part = new Path(MetadataSearch.bucketDir(dir, bucket))
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(part)) {
      // Read the bucket partition directly (pruned scan); basePath keeps
      // the partition columns in the schema.
      spark.read
        .option("basePath", dir)
        .schema(ObjectEvent.storedSchema)
        .parquet(part.toString)
        .select("bucket", "key", "opIndex", "opGroup", "type", "message")
    } else {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ObjectEvent.storedSchema)
        .select("bucket", "key", "opIndex", "opGroup", "type", "message")
    }
  }

  /** Live snapshot of a bucket: union of zones, latest event per key,
    * tombstones dropped, metadata payload flattened to top-level columns
    * (reference: MetadataQueryExecutor.setupDf, :157-210).
    */
  def bucketSnapshot(bucket: String): DataFrame = {
    val union = zone(landingDir, bucket).unionByName(zone(stagingDir, bucket))
    val snap = LatestState.snapshot(
      union, keyCols = Seq("key"), versionCol = "opIndex",
      isDelete = col("type") === "delete")

    val payloadCols = ObjectEvent.payloadSchema.fieldNames
      // payload `key`/`bucket` duplicate the top-level columns
      .filterNot(f => f == "key" || f == "bucket")
      .map(f => col(s"message.`$f`").as(f))
    snap.select(Seq(col("bucket"), col("key"), col("opIndex"), col("type")) ++ payloadCols: _*)
  }

  def search(q: SearchQuery): DataFrame = searchSnapshot(bucketSnapshot(q.bucket), q)

  /** Apply the WHERE / cursor / projection / page stages to an
    * already-built snapshot (lets callers search a cached snapshot —
    * see [[SearchServer.execute]], which serves a driver-held snapshot's
    * pages as slices instead).
    */
  def searchSnapshot(snapshot: DataFrame, q: SearchQuery): DataFrame = {
    SearchMetricsSource.getOrRegister().searchCount.inc()
    var df = snapshot
    if (q.where.nonEmpty) df = df.where(q.where)
    q.startKey.foreach(k => df = df.filter(col("key") > lit(k)))
    df.filter(MetadataSearch.isMasterKey)
      .select(ObjectEvent.resultColumns.map(c => col(s"`$c`")): _*)
      .orderBy(col("key")).limit(q.limit)
  }

  /** S3 ListObjectsV2 over the live snapshot: delimiter-bounded rollup +
    * leaf objects in one lexicographically ordered page.
    *
    * Result: `(stratum, name, n_keys)` — `stratum` is `object` or
    * `common_prefix`, `n_keys` the number of keys a common prefix hides
    * (1 for objects). Scale shape matches the gated `list_objects` query:
    * the rollup is a map-side-combined groupBy on the DERIVED prefix (a
    * prefix hiding 10M keys shuffles one partial row per map task), the
    * prefix/cursor predicates are scan-servable string ranges, and the
    * page is TakeOrderedAndProject — never a full-keyspace sort.
    */
  def listObjects(req: ListRequest): DataFrame = {
    var keys = bucketSnapshot(req.bucket)
      .filter(MetadataSearch.isMasterKey)
      .select(col("key"))
    if (req.prefix.nonEmpty) keys = keys.filter(col("key").startsWith(req.prefix))
    val page =
      if (req.delimiter.isEmpty) {
        req.startAfter.foreach(k => keys = keys.filter(col("key") > lit(k)))
        keys.select(lit("object").as("stratum"), col("key").as("name"),
          lit(1L).as("n_keys"))
      } else {
        // first delimiter occurrence strictly after the prefix; locate is
        // 1-based and returns 0 on no match — the rollup name is the key
        // up to and including that occurrence
        val pos = locate(req.delimiter, col("key"), req.prefix.length + 1)
        var tagged = keys.select(col("key"),
          when(pos > 0,
            col("key").substr(lit(1), pos + lit(req.delimiter.length - 1)))
            .as("common_prefix"))
        // S3 ListObjectsV2 continuation skips past a WHOLE delimiter
        // group: the cursor compares against the DERIVED name (the
        // common prefix for rolled-up keys, the key itself for leaves).
        // Filtering raw keys instead would re-emit a group that
        // straddles a page boundary on the next page — with a partial
        // n_keys count.
        req.startAfter.foreach(k => tagged = tagged.filter(
          coalesce(col("common_prefix"), col("key")) > lit(k)))
        val rollup = tagged.filter(col("common_prefix").isNotNull)
          .groupBy(col("common_prefix").as("name"))
          .agg(count(lit(1)).as("n_keys"))
          .select(lit("common_prefix").as("stratum"), col("name"), col("n_keys"))
        val leaves = tagged.filter(col("common_prefix").isNull)
          .select(lit("object").as("stratum"), col("key").as("name"),
            lit(1L).as("n_keys"))
        rollup.unionByName(leaves)
      }
    page.orderBy(col("name")).limit(req.maxKeys)
  }

  /** S3 ListObjectVersions: the FULL per-key history (nothing merged
    * away), newest version first, with `is_latest` and delete markers
    * flagged — the snapshot's complement, over the same landing ∪ staging
    * union. One shuffle on `key`, per-partition ordered rank; `maxKeys`
    * bounds the page of (key, version) rows.
    */
  def listVersions(req: ListRequest): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("opIndex").desc)
    var log = zone(landingDir, req.bucket).unionByName(zone(stagingDir, req.bucket))
      .filter(MetadataSearch.isMasterKey)
    if (req.prefix.nonEmpty) log = log.filter(col("key").startsWith(req.prefix))
    req.startAfter.foreach(k => log = log.filter(col("key") > lit(k)))
    log
      .withColumn("version_rank", row_number().over(w))
      .select(col("key"), col("opIndex").as("version_id"), col("version_rank"),
        (col("version_rank") === 1).cast("int").as("is_latest"),
        (col("type") === "delete").cast("int").as("is_delete_marker"))
      .orderBy(col("key"), col("version_rank"))
      .limit(req.maxKeys)
  }

  /** Search and render as JSON lines (the reference returns JSON to the
    * gateway over stdout, SparkUtils.getQueryResults). Materialization is
    * metered: latency and row count land in the `graft.search` Spark
    * metrics source ([[org.apache.spark.graft.metrics.SearchMetricsSource]]).
    */
  def searchJson(q: SearchQuery): Array[String] =
    org.apache.spark.graft.metrics.SearchMetricsSource.recordSearch {
      MetadataSearch.jsonRows(search(q))
    }
}

object MetadataSearch {

  /** The partition directory of `bucket` under a zone: the name escaped as
    * the file sink escaped it when it wrote the partition, so a `/` or `..`
    * in a client's bucket string stays inside one directory name, and a
    * bucket holding `:` or `%` finds its own directory. */
  private[graft] def bucketDir(zoneDir: String, bucket: String): String =
    s"$zoneDir/${ExternalCatalogUtils.getPartitionPathString("bucket", bucket)}"

  /** Collect a page as one JSON object per row, rendered inside the page's
    * own plan: `to_json(struct(<every column>))` over `ORDER BY … LIMIT n`
    * plans as ONE TakeOrderedAndProject (per-partition top-n, merged on the
    * driver), where `Dataset.toJSON` runs the page through the RDD path
    * and adds a single-partition shuffle and a second stage. The text is
    * byte-identical to `toJSON` (same generator and session options;
    * spec-pinned).
    */
  def jsonRows(page: DataFrame): Array[String] =
    jsonPage(page).collect().map(_.getString(0))

  /** The plan [[jsonRows]] collects: one string column per row. */
  private[graft] def jsonPage(page: DataFrame): DataFrame =
    page.select(toJson(page.columns.toIndexedSeq))

  /** `to_json(struct(<cols>))`: one JSON object per row. */
  private[graft] def toJson(cols: Seq[String]): Column =
    to_json(struct(cols.map(c => col("`" + c.replace("`", "``") + "`")): _*))

  /** Whether a row's key is one a master listing shows: versioned internal
    * keys carry a NUL separator, and listings hide them (reference:
    * MetadataQueryExecutor.scala:84). */
  private[graft] def isMasterKey: Column = !col("key").contains("\u0000")
}
