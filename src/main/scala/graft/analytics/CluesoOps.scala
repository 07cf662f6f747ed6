package graft.analytics

import graft.Tables
import graft.Tables.cents
import graft.ops.LatestState
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clueso-core semantics exercised over the shared `events` test table
  * (SURVEY.md §2.1), so the DuckDB oracle can gate them.
  *
  * Mapping: `events` is the op-log; the logical object key is
  * `user_id:k` (k from the JSON props), the op index is `event_id`, and
  * `event_type='error'` plays the tombstone (`delete`) role. The real
  * object-event pipeline (JSON envelopes, landing/staging zones,
  * compactor, streaming) is exercised on its native schema in the
  * ScalaTest specs.
  */
object CluesoOps {

  /** Op-ids per published op-log partition directory: each `op_part`
    * spans 1000 compaction groups of 1000 ops. The span keeps directory
    * counts sane at every scale (1 at sf0.1, ~11 at the 100× point, ~10k
    * at 100 TB) while op-index watermarks still prune whole directories.
    */
  private val OpPartSpan = 1000000L

  /** events → op-log view with exact-integer value/time columns.
    *
    * Published once per dataset as the PARSED LANDING ZONE
    * ([[graft.ops.DerivedZone]], the reference's staging-zone layout:
    * MetadataIngestionPipeline.scala:170-180 writes the op-log partitioned
    * so per-query scans prune): the JSON key extraction
    * (`get_json_object` + `concat`) is the shared parse tax under SEVEN
    * registered queries (snapshot/asof/diff/search/page/list_objects/
    * list_versions/compaction_merge) — re-parsing it per query dominated
    * the sf1 profile. The zone holds the slim 5-column projection —
    * narrow longs + the derived key, a small fraction of the raw events
    * table (`props` JSON and all unused columns dropped) — PARTITIONED BY
    * op-group range (`op_part`), so an op-index watermark
    * ([[mvccAsof]]/[[mvccDiff]]/[[compactionMerge]]) prunes whole
    * directories before any merge work happens, and a fresh session pays
    * zero parse jobs. The one-file-per-partition repartition keeps the
    * layout compact (no per-task file shards).
    */
  private val opLogZone = new graft.ops.DerivedZone("oplog",
    Seq("events.parquet"), partitionCols = Seq("op_part"))

  /** The op-log projection — record-wise, so it distributes over any file
    * subset: parsing the full table equals unioning per-file parses,
    * which is what makes the zone's APPEND-AWARE refresh sound (a newly
    * landed events file is parsed alone and published as a delta
    * generation; see [[graft.ops.DerivedZone.getAppendAware]]). */
  private def parseOpLog(events: DataFrame): DataFrame =
    events.select(
      concat(col("user_id").cast("string"), lit(":"),
        get_json_object(col("props"), "$.k")).as("object_key"),
      col("event_id"),
      col("event_type"),
      cents(col("value")).as("v_c"),
      expr("ts div 1000000000").as("sec"),
      expr(s"event_id div $OpPartSpan").as("op_part"))
      .repartition(col("op_part"))

  private def opLog(spark: SparkSession, dir: String): DataFrame =
    opLogZone.getAppendAware(spark, dir)(
      parseOpLog(Tables.events(spark, dir)))(
      files => parseOpLog(Tables.eventsFiles(spark, files)))

  /** (full builds, delta builds) of the op-log zone — spec hook for "an
    * events append refreshes the zone with jobs ∝ delta". */
  private[graft] def opLogZoneStats: (Long, Long) =
    (opLogZone.builds.get, opLogZone.deltaBuilds.get)

  /** Driver-side head op index of the zone, memoized per on-disk
    * fingerprint. Two metadata-cheap jobs: the newest op-part (a scan
    * that reads ZERO data columns — row-group footers only), then a
    * max over that single pruned directory. The literal result is what
    * lets the watermark queries below prune partitions STATICALLY
    * (a subquery watermark would plan a full scan under the filter).
    */
  private val maxIdMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, Long)]()

  private def maxOpId(spark: SparkSession, dir: String): Long = {
    maxIdMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    val fp = graft.ops.DerivedZone.fingerprint(spark, Seq(s"$dir/events.parquet"))
    maxIdMemo.compute((spark, dir), (_, cur) =>
      if (cur != null && cur._1 == fp) cur
      else {
        val log = opLog(spark, dir)
        val newest = log.agg(max(col("op_part"))).first().getLong(0)
        (fp, log.filter(col("op_part") === newest)
          .agg(max(col("event_id"))).first().getLong(0))
      })._2
  }

  private val opLogSql =
    """SELECT CAST(user_id AS VARCHAR) || ':' || json_extract_string(props, '$.k') AS object_key,
      |         event_id, event_type,
      |         CAST(round(value*100) AS BIGINT) AS v_c,
      |         epoch_ns(ts)//1000000000 AS sec
      |  FROM events""".stripMargin

  /** #1 mvcc_snapshot: latest event per key, tombstoned keys dropped —
    * [[LatestState.snapshot]] (argmax-join form) vs the oracle's window
    * formulation (the reference's own plan shape).
    */
  /** The HEAD snapshot is itself a published artifact (round 15): FOUR
    * registered queries (snapshot/search/pagination/list_objects) ran the
    * same argmax merge over the full op-log zone per query — the merge is
    * deterministic (event ids are unique per key), so the reference's
    * staging-zone economics apply one level up: merge once per dataset,
    * serve the ≤|visible keys| result to every consumer. Downstream
    * predicates (search WHERE, keyset cursors, prefix drill-downs) push
    * into the zone's parquet scan. Exact longs, exact-half doubles and a
    * UTC-rendered string — the round trip is bit-safe. */
  private val snapshotZone = new graft.ops.DerivedZone("bucket_snapshot",
    Seq("events.parquet"), rev = 2)

  /** `sec` (epoch seconds ≥ 0) rendered as "yyyy-MM-dd HH:mm:ss" in UTC by
    * pure integer arithmetic — `date_format(timestamp_seconds(...))`
    * renders under `spark.sql.session.timeZone`, and a PERSISTED string
    * (the snapshot zone) built by a non-UTC publisher would serve wrong
    * rows to UTC sessions under an opt-in shared durable zone root
    * (round-15 advice). Dates are timezone-less in Spark, so
    * `date_add(epoch, days)` + the h/m/s remainders render identically in
    * every session; under UTC sessions the output is bit-identical to the
    * old expression (oracle-gated). The zone rev is bumped so durable
    * roots rebuild. */
  private[graft] def utcTs: Column =
    concat(
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        expr("cast(sec div 86400 as int)")).cast("string"),
      lit(" "),
      format_string("%02d:%02d:%02d",
        expr("(sec % 86400) div 3600"),
        expr("(sec % 3600) div 60"),
        expr("sec % 60")))

  /** Unordered snapshot core — callers that filter/paginate on top apply
    * their own total order, so the sort happens once, at the top. */
  private def mvccSnapshotCore(spark: SparkSession, dir: String): DataFrame =
    snapshotZone.get(spark, dir) {
      LatestState.snapshot(opLog(spark, dir),
          keyCols = Seq("object_key"), versionCol = "event_id",
          isDelete = col("event_type") === "error")
        .select(
          col("object_key"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          (col("v_c") / 100.0).as("value"),
          utcTs.as("ts"))
    }

  def mvccSnapshot(spark: SparkSession, dir: String): DataFrame =
    mvccSnapshotCore(spark, dir).orderBy("object_key")

  val mvccSnapshotSql: String =
    s"""WITH ev AS (
      |$opLogSql)
      |SELECT object_key, event_id AS last_event_id, event_type AS last_type,
      |       v_c/100.0 AS value,
      |       strftime(make_timestamp(sec*1000000), '%Y-%m-%d %H:%M:%S') AS ts
      |FROM (SELECT *, row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn
      |      FROM ev) t
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY object_key""".stripMargin

  /** #73 mvcc_asof: time travel — the snapshot AS OF an op-index
    * watermark (here the deterministic quarter-point of the log). Same
    * argmax-join merge as the head snapshot, over the watermark-filtered
    * log. The watermark is resolved to a LITERAL on the driver
    * ([[maxOpId]], two tiny jobs), so the `op_part` predicate is a
    * static partition filter: the scan prunes ~3/4 of the zone's
    * compaction-group directories before any merge work happens —
    * measured, not asserted (PruningSpec pins PartitionFilters).
    */
  def mvccAsof(spark: SparkSession, dir: String): DataFrame = {
    val w = maxOpId(spark, dir) / 4
    LatestState.snapshot(
        opLog(spark, dir)
          .filter(col("op_part") <= w / OpPartSpan && col("event_id") <= w),
        keyCols = Seq("object_key"), versionCol = "event_id",
        isDelete = col("event_type") === "error")
      .select(col("object_key"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), (col("v_c") / 100.0).as("value"))
      .orderBy("object_key")
  }

  val mvccAsofSql: String =
    s"""WITH ev AS (
      |$opLogSql),
      |m AS (SELECT max(event_id) // 4 AS w FROM ev)
      |SELECT object_key, event_id AS last_event_id, event_type AS last_type,
      |       v_c/100.0 AS value
      |FROM (SELECT *, row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn
      |      FROM ev WHERE event_id <= (SELECT w FROM m)) t
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY object_key""".stripMargin

  /** #52 mvcc_diff: the changelog between two snapshot watermarks — which
    * visible objects were created / updated / deleted between op-index
    * mid (= max/2, a deterministic midpoint) and the head. Incremental
    * consumers (cache invalidation, downstream sync) read this instead of
    * re-diffing full snapshots. Both snapshots are the argmax-join-form
    * [[LatestState]]; the diff is one full-outer join on the key.
    */
  def mvccDiff(spark: SparkSession, dir: String): DataFrame = {
    // The diff needs no payload — only each key's latest event id and
    // whether that event is a tombstone. Encoding both into ONE long
    // (2*event_id + is_error; event ids are unique per key) turns the
    // merge into a plain `max(long)` HashAggregate. The payload-carrying
    // [[LatestState]] form instead aggregates `max_by` over a struct,
    // which Spark cannot hash-aggregate (non-primitive buffer) — it
    // plans as SortAggregate, i.e. a per-partition sort of the whole log
    // on BOTH sides of this diff. Measured at the 10× scale point:
    // 25 s → ~3 s for the full diff.
    val mid = maxOpId(spark, dir) / 2
    def slim(df: DataFrame): DataFrame = df.select(col("object_key"), col("event_id"),
      (col("event_id") * 2 + (col("event_type") === "error").cast("long")).as("ev"))
    def snap(df: DataFrame): DataFrame =
      df.groupBy("object_key").agg(max(col("ev")).as("ev"))
        .filter(col("ev") % 2 === 0) // latest event is a tombstone -> key invisible
        .select(col("object_key"), expr("ev div 2").as("event_id"))
    // literal watermark → the old side's scan statically prunes op_part
    // directories above the midpoint
    val s1 = snap(slim(opLog(spark, dir)
        .filter(col("op_part") <= mid / OpPartSpan && col("event_id") <= mid)))
      .withColumnRenamed("object_key", "k1").withColumnRenamed("event_id", "old_event_id")
    val s2 = snap(slim(opLog(spark, dir)))
      .withColumnRenamed("object_key", "k2").withColumnRenamed("event_id", "new_event_id")
    s1.join(s2, col("k1") === col("k2"), "full_outer")
      .withColumn("change",
        when(col("k1").isNull, "created")
          .when(col("k2").isNull, "deleted")
          .when(col("old_event_id") =!= col("new_event_id"), "updated"))
      .filter(col("change").isNotNull)
      .select(coalesce(col("k1"), col("k2")).as("object_key"),
        col("change"), col("old_event_id"), col("new_event_id"))
      .orderBy("object_key")
  }

  val mvccDiffSql: String =
    s"""WITH ev AS (
      |$opLogSql),
      |m AS (SELECT max(event_id) // 2 AS mid FROM ev),
      |s1 AS (
      |  SELECT object_key, event_id FROM (
      |    SELECT object_key, event_id, event_type,
      |           row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn
      |    FROM ev WHERE event_id <= (SELECT mid FROM m)) t
      |  WHERE rn = 1 AND event_type <> 'error'),
      |s2 AS (
      |  SELECT object_key, event_id FROM (
      |    SELECT object_key, event_id, event_type,
      |           row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn
      |    FROM ev) t
      |  WHERE rn = 1 AND event_type <> 'error')
      |SELECT COALESCE(s1.object_key, s2.object_key) AS object_key,
      |       CASE WHEN s1.object_key IS NULL THEN 'created'
      |            WHEN s2.object_key IS NULL THEN 'deleted'
      |            WHEN s1.event_id <> s2.event_id THEN 'updated' END AS change,
      |       s1.event_id AS old_event_id, s2.event_id AS new_event_id
      |FROM s1 FULL OUTER JOIN s2 ON s1.object_key = s2.object_key
      |WHERE s1.object_key IS NULL OR s2.object_key IS NULL OR s1.event_id <> s2.event_id
      |ORDER BY object_key""".stripMargin

  // --------------------------------------------- #118 lifecycle expiration
  /** #118 mvcc_expire: S3-lifecycle expiration planning over the
    * versioned op-log — the listing a lifecycle daemon (the reference
    * deployment pairs the metadata engine with Zenko's lifecycle
    * transition/expiration policies) asks for before issuing deletes:
    *
    *  - `noncurrent_expired`: versions that are NOT their key's head and
    *    are older than the cutoff (NoncurrentVersionExpiration);
    *  - `expired_delete_marker`: a head tombstone whose key has NO
    *    version newer than the cutoff — once the noncurrent versions
    *    expire, the marker itself is removable (S3's
    *    "expired object delete marker" cleanup).
    *
    * The cutoff is deterministic — the sec-range three-quarter point,
    * resolved to a LITERAL on the driver (one tiny agg job, same policy
    * as [[maxOpId]]) so the filter is a static predicate, not a
    * subquery join. Scale shape: ONE hash exchange on `object_key`, one
    * window pass computing the head flag and the per-key max sec
    * together — the same single-shuffle discipline as the snapshot
    * merge; no self-join of the log against itself.
    */
  def mvccExpire(spark: SparkSession, dir: String): DataFrame = {
    val log = opLog(spark, dir)
    val r = log.agg(min(col("sec")), max(col("sec"))).first()
    val cutoff = r.getLong(1) - (r.getLong(1) - r.getLong(0)) / 4
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy("object_key")
    val w = byKey.orderBy(col("event_id").desc)
    log
      .withColumn("rn", row_number().over(w))
      .withColumn("max_sec", max(col("sec")).over(byKey))
      .withColumn("reason",
        when(col("rn") > 1 && col("sec") < cutoff, "noncurrent_expired")
          .when(col("rn") === 1 && col("event_type") === "error" &&
            col("max_sec") < cutoff, "expired_delete_marker"))
      .filter(col("reason").isNotNull)
      .select(col("object_key"), col("event_id"), col("event_type"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("reason"))
      .orderBy("object_key", "event_id")
  }

  val mvccExpireSql: String =
    s"""WITH ev AS (
      |$opLogSql),
      |c AS (SELECT max(sec) - (max(sec) - min(sec)) // 4 AS cutoff FROM ev),
      |vers AS (
      |  SELECT object_key, event_id, event_type, sec,
      |         row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn,
      |         max(sec) OVER (PARTITION BY object_key) AS max_sec
      |  FROM ev)
      |SELECT object_key, event_id, event_type,
      |       strftime(make_timestamp(sec*1000000), '%Y-%m-%d %H:%M:%S') AS ts,
      |       CASE WHEN rn > 1 AND sec < (SELECT cutoff FROM c)
      |              THEN 'noncurrent_expired'
      |            WHEN rn = 1 AND event_type = 'error'
      |                 AND max_sec < (SELECT cutoff FROM c)
      |              THEN 'expired_delete_marker' END AS reason
      |FROM vers
      |WHERE (rn > 1 AND sec < (SELECT cutoff FROM c))
      |   OR (rn = 1 AND event_type = 'error' AND max_sec < (SELECT cutoff FROM c))
      |ORDER BY object_key, event_id""".stripMargin

  /** #2 metadata_search: snapshot + arbitrary SQL WHERE + ordered page
    * (reference: MetadataQueryExecutor.execute).
    */
  def metadataSearch(spark: SparkSession, dir: String): DataFrame =
    mvccSnapshotCore(spark, dir)
      .where("last_type = 'purchase' AND value > 50.0")
      .orderBy("object_key")
      .limit(100)

  val metadataSearchSql: String =
    s"""SELECT * FROM (${mvccSnapshotSql.replace("ORDER BY object_key", "")}) s
      |WHERE last_type = 'purchase' AND value > 50.0
      |ORDER BY object_key LIMIT 100""".stripMargin

  /** #3 search_pagination: keyset cursor `key > start_key`, next page. */
  def searchPagination(spark: SparkSession, dir: String): DataFrame =
    mvccSnapshotCore(spark, dir)
      .filter(col("object_key") > lit("5:"))
      .orderBy("object_key")
      .limit(50)

  val searchPaginationSql: String =
    s"""SELECT * FROM (${mvccSnapshotSql.replace("ORDER BY object_key", "")}) s
      |WHERE object_key > '5:'
      |ORDER BY object_key LIMIT 50""".stripMargin

  /** #94 list_objects: S3 ListObjectsV2 prefix/delimiter semantics over
    * the live snapshot — the bread-and-butter call of an object-metadata
    * engine's console. Keys sharing a delimiter-bounded prefix collapse
    * to ONE `common_prefix` row (with its key count); the drill-down into
    * one prefix lists leaf objects. Both pages of the browsing flow in
    * one gated result.
    *
    * Scale shape: the rollup is a groupBy on the derived prefix (map-side
    * combined — a prefix with 10M keys shuffles one partial row per map
    * task), and the drill-down predicate is a prefix range the scan can
    * serve; neither pass sorts the full keyspace.
    */
  def listObjects(spark: SparkSession, dir: String): DataFrame = {
    // two consumers (rollup + drill-down) over the published
    // bucket_snapshot zone: the MVCC merge already ran once per dataset,
    // so each consumer is a slim one-column parquet scan
    val snap = mvccSnapshotCore(spark, dir).select("object_key")
    val prefixes = snap
      .select(concat(substring_index(col("object_key"), ":", 1), lit(":")).as("name"))
      .groupBy("name").agg(count(lit(1)).as("n_keys"))
      .select(lit("common_prefix").as("stratum"), col("name"), col("n_keys"))
    val drill = snap.filter(col("object_key").startsWith("42:"))
      .select(lit("object").as("stratum"), col("object_key").as("name"),
        lit(1L).as("n_keys"))
    prefixes.unionByName(drill).orderBy("stratum", "name")
  }

  val listObjectsSql: String =
    s"""WITH snap AS (
      |  SELECT object_key FROM (${mvccSnapshotSql.replace("ORDER BY object_key", "")}) s)
      |SELECT * FROM (
      |  SELECT 'common_prefix' AS stratum,
      |         split_part(object_key, ':', 1) || ':' AS name,
      |         count(*) AS n_keys
      |  FROM snap GROUP BY name
      |  UNION ALL
      |  SELECT 'object', object_key, 1 FROM snap WHERE object_key LIKE '42:%') t
      |ORDER BY stratum, name""".stripMargin

  /** #95 list_versions: S3 ListObjectVersions semantics — the FULL
    * version history per key (the snapshot's complement: nothing merged
    * away), newest first, with `is_latest` and delete markers flagged.
    * The version rank is one window per key partition; a single shuffle
    * on `object_key`, then per-partition ordered scans — the same page a
    * versioned bucket's console shows.
    */
  def listVersions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("object_key").orderBy(col("event_id").desc)
    opLog(spark, dir)
      .filter(col("object_key") <= lit("11:")) // one console page of keys
      .withColumn("version_rank", row_number().over(w))
      .select(col("object_key"), col("event_id").as("version_id"),
        col("version_rank"),
        (col("version_rank") === 1).cast("int").as("is_latest"),
        (col("event_type") === "error").cast("int").as("is_delete_marker"),
        (col("v_c") / 100.0).as("value"))
      .orderBy("object_key", "version_rank")
  }

  val listVersionsSql: String =
    s"""WITH ev AS (
      |$opLogSql)
      |SELECT object_key, event_id AS version_id,
      |       row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS version_rank,
      |       CAST(row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) = 1 AS INT) AS is_latest,
      |       CAST(event_type = 'error' AS INT) AS is_delete_marker,
      |       v_c/100.0 AS value
      |FROM ev WHERE object_key <= '11:'
      |ORDER BY object_key, version_rank""".stripMargin

  /** #4 ingest_parse: JSON payload parse + typed extraction + garbage/
    * system-topic filtering (the gate-able core of [[graft.ingest.EventParser]]).
    */
  def ingestParse(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("props").isNotNull && length(col("props")) > 3)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("event_type"))
      .filter(col("k").isNotNull && !col("event_type").isin("view"))
      .orderBy("event_id")

  val ingestParseSql: String =
    """SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |       event_type
      |FROM events
      |WHERE props IS NOT NULL AND length(props) > 3
      |  AND CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
      |  AND event_type NOT IN ('view')
      |ORDER BY event_id""".stripMargin

  /** #5 compaction_groups: op index → compaction group (round-up to
    * interval; reference: MetadataIngestionPipeline.findNextMaxOpIndexFun).
    */
  def compactionGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("op_group",
        when(col("event_id") % 1000 === 0, col("event_id"))
          .otherwise(col("event_id") + 1000 - (col("event_id") % 1000)))
      .groupBy("op_group")
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_op"),
        max(col("event_id")).as("max_op"))
      .orderBy("op_group")

  val compactionGroupsSql: String =
    """SELECT CASE WHEN event_id % 1000 = 0 THEN event_id
      |            ELSE event_id + 1000 - (event_id % 1000) END AS op_group,
      |       count(*) AS n, min(event_id) AS min_op, max(event_id) AS max_op
      |FROM events GROUP BY 1 ORDER BY op_group""".stripMargin

  /** #6 compaction_merge: collapse all *closed* op-groups (every group but
    * the newest) to latest-per-key, tombstones out — exactly what
    * [[graft.compact.Compactor]] writes to staging.
    */
  def compactionMerge(spark: SparkSession, dir: String): DataFrame = {
    // op_group is a pure function of the event id, so the merge needs no
    // payload — same (2*id + tombstone) long encoding as [[mvccDiff]]:
    // the latest-per-key collapse is a plain max(long) HashAggregate
    // (map-side combined, no SortAggregate sort), and the winner's
    // op_group is recomputed from the decoded id afterwards.
    def group(id: Column): Column =
      when(id % 1000 === 0, id).otherwise(id + 1000 - (id % 1000))
    // `op_group < max_group` over round-up-to-1000 groups is exactly
    // `event_id <= cutoff` with a literal cutoff at the start of the
    // newest group — letting the scan statically prune the newest
    // op_part directory and skip the max-group broadcast job entirely
    val maxId = maxOpId(spark, dir)
    val g = if (maxId % 1000 == 0) maxId else maxId + 1000 - maxId % 1000
    val cutoff = g - 1000
    val closed = opLog(spark, dir)
      .filter(col("op_part") <= cutoff / OpPartSpan && col("event_id") <= cutoff)
      .select(col("object_key"), col("event_id"),
        (col("event_id") * 2 + (col("event_type") === "error").cast("long")).as("ev"))
    closed.groupBy("object_key").agg(max(col("ev")).as("ev"))
      .filter(col("ev") % 2 === 0)
      .select(col("object_key"),
        expr("ev div 2").as("last_event_id"),
        group(expr("ev div 2")).as("op_group"))
      .orderBy("object_key")
  }

  val compactionMergeSql: String =
    s"""WITH ev AS (
      |$opLogSql),
      |grouped AS (
      |  SELECT *, CASE WHEN event_id % 1000 = 0 THEN event_id
      |                 ELSE event_id + 1000 - (event_id % 1000) END AS op_group
      |  FROM ev),
      |closed AS (
      |  SELECT * FROM grouped WHERE op_group < (SELECT max(op_group) FROM grouped))
      |SELECT object_key, event_id AS last_event_id, op_group
      |FROM (SELECT *, row_number() OVER (PARTITION BY object_key ORDER BY event_id DESC) AS rn
      |      FROM closed) t
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY object_key""".stripMargin

  /** #7 storage_info: per-table record/key statistics (the SQL-gateable
    * face of [[graft.tools.StorageInfo]], which also reports parquet file
    * counts/bytes via the filesystem).
    */
  def storageInfo(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, keyCol: String): DataFrame =
      df.agg(count(lit(1)).as("records"),
          countDistinct(col(keyCol)).as("distinct_keys"))
        .select(lit(name).as("tbl"), col("records"), col("distinct_keys"))
    one("events", Tables.events(spark, dir), "user_id")
      .unionByName(one("documents", Tables.documents(spark, dir), "doc_id"))
      .unionByName(one("lineitem", Tables.lineitem(spark, dir), "l_orderkey"))
      .unionByName(one("orders", Tables.orders(spark, dir), "o_orderkey"))
      .orderBy("tbl")
  }

  val storageInfoSql: String =
    """SELECT 'events' AS tbl, count(*) AS records, count(DISTINCT user_id) AS distinct_keys FROM events
      |UNION ALL
      |SELECT 'documents', count(*), count(DISTINCT doc_id) FROM documents
      |UNION ALL
      |SELECT 'lineitem', count(*), count(DISTINCT l_orderkey) FROM lineitem
      |UNION ALL
      |SELECT 'orders', count(*), count(DISTINCT o_orderkey) FROM orders
      |ORDER BY tbl""".stripMargin
}
