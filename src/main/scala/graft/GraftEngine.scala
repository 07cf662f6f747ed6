package graft

import graft.compact.Compactor
import graft.functions.GraftFunctions
import graft.ingest.IngestPipeline
import graft.search.{ListRequest, MetadataSearch, SearchQuery, SearchServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The assembled search engine: one object wiring ingestion, search,
  * snapshot caching and compaction over a [[GraftConfig]] — the
  * entrypoint a deployment (or a user migrating from the reference
  * engine) drives. The warm path is one [[SearchServer]]; [[close]] drops
  * its cached snapshots and their files.
  */
class GraftEngine(spark: SparkSession, val config: GraftConfig)
    extends AutoCloseable {

  private val server = new SearchServer(spark, config.landingDir,
    config.stagingDir, config.cacheTtlMillis)
  val searcher: MetadataSearch = server.searcher
  val compactor = new Compactor(spark, config.landingDir, config.stagingDir,
    config.purgeToleranceMs)

  /** Start continuous ingestion: the Kafka journal when the config names
    * a broker (the reference's production source), else the file journal.
    * Parse, filter and sink are shared between the two.
    */
  def startIngest(inputDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    if (config.kafkaBootstrap.nonEmpty)
      IngestPipeline.kafkaJournalStream(spark, config.kafkaBootstrap,
        config.kafkaTopic, config.landingDir, config.checkpointDir, trigger,
        config.excludeBucket, config.groupInterval)
    else
      IngestPipeline.fileJournalStream(spark, inputDir, config.landingDir,
        config.checkpointDir, trigger, config.excludeBucket, config.groupInterval)

  /** Search the live snapshot (landing ∪ staging merged per call).
    * With `maxSearchScanBytes` configured, the plan is audited BEFORE any
    * task launches ([[graft.search.PlanGuard]]) so a degenerate predicate
    * fails fast instead of scanning the world.
    */
  def search(q: SearchQuery): DataFrame = {
    val df = searcher.search(q)
    if (config.maxSearchScanBytes > 0)
      graft.search.PlanGuard.admit(df, BigInt(config.maxSearchScanBytes))
    else df
  }

  /** Search against the cached snapshot of the bucket — the hot-bucket
    * path (reference: SessionCacheManager): repeated searches reuse one
    * merge, published once per state of the bucket's files to the server's
    * snapshot zone ([[SearchServer.execute]]) and re-checked against the
    * bucket's files once per TTL (`cacheTtlMillis`). A bucket whose
    * snapshot is under 4 MiB of parquet is held on the driver as
    * key-sorted rows with each row's JSON rendered at build, and the page
    * comes back already computed: a slice of the positions its WHERE
    * keeps, folded at the WHERE text's first request and cached on the
    * entry (a bounded LRU that goes with the entry at rebuild or
    * [[invalidateCache]]; never for a nondeterministic or clock-reading
    * WHERE). A session-option change reaches such a page at the entry's
    * next rebuild or [[invalidateCache]]. For a larger bucket the page is
    * a one-stage plan over a cached scan of the zone's parquet.
    */
  def searchCached(q: SearchQuery): DataFrame = server.execute(q)

  /** S3 ListObjectsV2 page over the live snapshot (delimiter rollup +
    * leaf objects; see [[MetadataSearch.listObjects]]). */
  def listObjects(req: ListRequest): DataFrame = searcher.listObjects(req)

  /** S3 ListObjectVersions page over the unmerged zones
    * (see [[MetadataSearch.listVersions]]). */
  def listVersions(req: ListRequest): DataFrame = searcher.listVersions(req)

  /** Register the engine's search surface as SQL TABLE functions, so a
    * session that knows nothing of the Scala API drives the full
    * listing/search surface from plain SQL (the reference's users speak
    * SQL through the gateway):
    *
    * {{{
    * SELECT * FROM graft_search('bucket1', "`content-length` > 100", '', 100)
    * SELECT * FROM graft_list_objects('bucket1', 'photos/', '/', '', 1000)
    * SELECT * FROM graft_list_versions('bucket1', 'photos/', '', 1000)
    * }}}
    *
    * Same mechanism as the built-in `range()`: a builder in the session's
    * TableFunctionRegistry turns literal arguments into this engine's
    * LogicalPlan at analysis time — the SQL form therefore plans
    * IDENTICALLY to the Scala API (pruned bucket-partition scan, argmax
    * snapshot merge, TakeOrderedAndProject page), and keyset pagination
    * works by passing the previous page's last name as the cursor
    * argument (empty string = first page).
    */
  def registerSqlSurface(): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Expression
    val reg = spark.sessionState.tableFunctionRegistry
    def str(e: Expression, fn: String): String = {
      require(e.foldable, s"$fn: arguments must be literals")
      Option(e.eval()).map(_.toString).getOrElse("")
    }
    def cursor(s: String): Option[String] = if (s.isEmpty) None else Some(s)

    reg.createOrReplaceTempFunction("graft_search", args => {
      require(args.length == 4,
        "usage: graft_search(bucket, where_expr, start_key, limit)")
      search(SearchQuery(str(args(0), "graft_search"), str(args(1), "graft_search"),
        cursor(str(args(2), "graft_search")),
        GraftFunctions.intLiteral("graft_search", "limit", args(3))))
        .queryExecution.logical
    }, "built-in")

    reg.createOrReplaceTempFunction("graft_list_objects", args => {
      require(args.length == 5,
        "usage: graft_list_objects(bucket, prefix, delimiter, start_after, max_keys)")
      listObjects(ListRequest(str(args(0), "graft_list_objects"),
        str(args(1), "graft_list_objects"), str(args(2), "graft_list_objects"),
        cursor(str(args(3), "graft_list_objects")),
        GraftFunctions.intLiteral("graft_list_objects", "max_keys", args(4))))
        .queryExecution.logical
    }, "built-in")

    reg.createOrReplaceTempFunction("graft_list_versions", args => {
      require(args.length == 4,
        "usage: graft_list_versions(bucket, prefix, start_after, max_keys)")
      listVersions(ListRequest(str(args(0), "graft_list_versions"),
        str(args(1), "graft_list_versions"),
        startAfter = cursor(str(args(2), "graft_list_versions")),
        maxKeys = GraftFunctions.intLiteral("graft_list_versions", "max_keys", args(3))))
        .queryExecution.logical
    }, "built-in")
  }

  /** Invalidate a bucket's cached snapshot: the next [[searchCached]]
    * re-reads its files without waiting for the TTL. */
  def invalidateCache(bucket: String): Unit = server.invalidate(bucket)

  /** Fold closed landing op-groups into staging for all buckets; returns
    * per-bucket failures (empty when everything compacted). Cached
    * snapshots stay as they are: a compaction keeps every key's latest
    * event, and [[searchCached]] re-reads the rewritten files at its next
    * TTL revalidation. */
  def compact(numPartitions: Int, force: Boolean = false): Map[String, Throwable] =
    compactor.compactAll(numPartitions, force)

  /** Drop every cached snapshot and delete its files now. */
  override def close(): Unit = server.close()
}

object GraftEngine {

  /** Register the ANALYTICS suite as a SQL TABLE function, completing the
    * SQL-only surface that [[GraftEngine.registerSqlSurface]] opens for
    * search/listing: every operator in [[SparkEntry.queries]] becomes
    * drivable from plain SQL with zero Scala —
    *
    * {{{
    * SELECT * FROM graft_query('q5_join')
    * SELECT n_name FROM graft_query('q5_join') WHERE revenue > 0
    * }}}
    *
    * Same mechanism as `graft_search`: the builder resolves the literal
    * name against [[SparkEntry.queries]] at ANALYSIS time and splices in
    * the operator's own logical plan, so the SQL face plans IDENTICALLY
    * to the Scala face (asserted plan-for-plan in `SqlSurfaceSpec`) and
    * composes like any relation — outer filters/projections push INTO the
    * spliced plan through Catalyst as if the user had written the
    * DataFrame chain themselves.
    */
  def registerAnalyticsSurface(spark: SparkSession, sfDir: String): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    reg.createOrReplaceTempFunction("graft_query", args => {
      require(args.length == 1, "usage: graft_query(name)")
      require(args.head.foldable, "graft_query: name must be a literal")
      val name = Option(args.head.eval()).map(_.toString).getOrElse("")
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"graft_query: unknown query '$name' (${SparkEntry.queries.size} known keys — see SURVEY.md §2)"))
      fn(spark, sfDir).queryExecution.logical
    }, "built-in")
  }
}
