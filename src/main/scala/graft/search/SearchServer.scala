package graft.search

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets

import graft.ops.DerivedZone
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s.{DefaultFormats, JInt, JNothing, JNull, JValue}
import org.json4s.jackson.JsonMethods

/** Long-lived warm query executor — the reference engine's actual
  * production operating mode (reference:
  * src/main/scala/com/scality/clueso/query/MetadataQueryExecutor.scala:17-60):
  * ONE SparkSession plus per-bucket cached snapshots stay resident, search
  * requests arrive repeatedly, and each result streams back to the calling
  * gateway as a single JSON-array line over stdout (the reference's
  * `executeAndPrint` contract, :57-60). The point of the mode is
  * amortization: a bucket's landing∪staging merge is published once per
  * state of its files through this server's `search_snapshot`
  * [[DerivedZone]] (a TTL miss over unchanged files, or a restart on a
  * durable `spark.graft.derived.dir`, merges nothing), and every later
  * query reuses the [[SessionCache]] entry made from it — no re-scan, no
  * re-merge, no file I/O. The entry's form follows the bytes of the
  * published snapshot, which the zone read has already listed:
  *  - below [[SessionCache.LocalMaxBytes]] (4 MiB of snapshot parquet,
  *    about 39 MiB of driver heap at most, see [[SessionCache]]) it is
  *    collected from the zone read in one job that also renders each row's
  *    JSON, and held on the driver as key-sorted rows. A warm page is a
  *    slice of them with NO Spark job: the first request of a WHERE text
  *    folds it on the driver into the positions of the matching rows, and
  *    the entry caches them (the last [[SessionCache.Folds]] WHERE texts;
  *    the empty WHERE needs no fold). A cursor page, or the WHERE asked
  *    again, is a binary search for the cursor and a slice of cached
  *    positions, whose JSON is joined without planning anything. A WHERE
  *    that is nondeterministic or reads the clock is folded at every
  *    request and never cached; one the driver cannot fold (a scalar
  *    subquery) is planned with `ORDER BY key` over the same rows and
  *    counted in `orderedFallbacks`;
  *  - at or above it the zone read is persisted, and a warm page is one
  *    Spark stage over the cached scan, its JSON rendered inside the plan
  *    ([[MetadataSearch.jsonRows]]). A superseded one is unpersisted at
  *    swap; requests still running on it re-read the zone files.
  * The JSON, and a WHERE's positions, follow the session's options of
  * the moment they were made: a change to them reaches a driver-held
  * page at the entry's next rebuild or [[invalidate]].
  *
  * Concurrency: [[handle]] is safe to call from many threads —
  * [[HttpSearchServer]] runs a pool of them; the stdin line protocol
  * ([[serve]]) answers one line at a time.
  *
  * Request protocol (one JSON object per line on stdin):
  *  - `{"bucket":"b","where":"<sql>","startKey":"k","limit":100}` →
  *    one JSON-array line of result rows (bare array, the reference's
  *    gateway contract; `where`/`startKey`/`limit` optional, `limit`
  *    1000 by default; a `limit` that is not an int, or is negative, is
  *    an error, and 0 answers `[]`)
  *  - `{"cmd":"invalidate","bucket":"b"}` → `{"ok":true}` — drop the
  *    bucket's cached snapshot; the next request re-reads its files
  *  - `{"cmd":"metrics"}` → one JSON object of the `graft.search` counters
  *    (`pageSlices` counts driver-held pages served from cached
  *    positions) plus this server's `snapshotRebuilds` and its snapshot
  *    zone's `snapshotMerges` (full builds) and `snapshotDiskHits`
  *  - `{"cmd":"shutdown"}` → `{"ok":true}` and the serve loop returns
  *  - a malformed or failing request → `{"error":"..."}`; the loop
  *    CONTINUES (one bad query must not kill the warm executor)
  *
  * Freshness: the TTL decides when a bucket's files are looked at again,
  * the zone's fingerprint decides whether they changed, and `invalidate`
  * forces a look at the next request. A compaction is seen at the next
  * revalidation after it; it keeps every key's latest event, so pages do
  * not change in between.
  *
  * Scale posture: identical to [[MetadataSearch]] (pruned per-bucket
  * scans, argmax-join merge, TakeOrderedAndProject pages) — the
  * server adds residency, not new plan shapes. The cached snapshot is one
  * bucket's live keys (bounded by the bucket, not the corpus); only
  * buckets under the byte bound are held on the driver, so a
  * 1000-executor deployment holds large hot buckets in cluster memory, and
  * the TTL bounds staleness exactly like the reference's
  * `SessionCacheManager`.
  *
  * `localMaxBytes` is the driver-held bound; specs pass 0 to pin the
  * persisted form.
  */
class SearchServer private[graft] (spark: SparkSession, landingDir: String,
                                   stagingDir: String, cacheTtlMillis: Long,
                                   localMaxBytes: Long) extends AutoCloseable {
  import SearchServer.jsonString

  def this(spark: SparkSession, landingDir: String, stagingDir: String,
           cacheTtlMillis: Long = 60000L) =
    this(spark, landingDir, stagingDir, cacheTtlMillis, SessionCache.LocalMaxBytes)

  val searcher = new MetadataSearch(spark, landingDir, stagingDir)
  private val cache = new SessionCache(cacheTtlMillis, localMaxBytes)
  private[graft] val zone = new DerivedZone("search_snapshot", Nil)

  /** Snapshot entries made since start. A warm second query on a bucket
    * must NOT move this — the spec's no-re-scan assertion.
    */
  def snapshotRebuilds: Long = cache.rebuilds

  /** Set while [[executeJson]] runs on a thread (null elsewhere): the
    * slice of a driver-held snapshot that [[execute]] served there, if
    * any, for executeJson to write without planning. */
  private val handoff = new ThreadLocal[Option[SessionCache.Held#Slice]]

  /** Plan one search against the warm snapshot (reference `execute`,
    * MetadataQueryExecutor.scala:62-95, with cache delegation :42-50). A
    * hit within the TTL touches no file; a miss revalidates against the
    * fingerprint of the bucket's files. Over a driver-held snapshot the
    * returned page is already computed (a local relation) — a slice of
    * the snapshot's rows, see [[SessionCache.Held]]; otherwise it is an
    * `ORDER BY key LIMIT n` plan over the cached scan. A negative limit is
    * an error on both forms.
    *
    * A miss on a bucket with no directory in either zone searches an
    * empty snapshot: nothing is published, merged or cached for it (and
    * an entry it had is dropped), so client-supplied names leave no state
    * behind.
    */
  def execute(q: SearchQuery): DataFrame = {
    val inputs = Seq(landingDir, stagingDir).map(MetadataSearch.bucketDir(_, q.bucket))
    cache.hit(q.bucket).orElse {
      if (inputs.exists(exists)) Some(cache.entry(q.bucket) {
        zone.get(spark, inputs.mkString("\n"), inputs)(searcher.bucketSnapshot(q.bucket))
      }) else {
        cache.invalidate(q.bucket)
        None
      }
    } match {
      case Some(SessionCache.Entry(_, _, Some(held), _)) => slice(held, q)
      case Some(entry) => searcher.searchSnapshot(entry.df, q)
      case None => searcher.searchSnapshot(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), searcher.bucketSnapshot(q.bucket).schema), q)
    }
  }

  /** A page over a driver-held snapshot: the WHERE's positions (cached,
    * or folded now), cut at the cursor and the limit. A WHERE that does
    * not fold is planned with `ORDER BY key` over the same rows instead,
    * and counted in `orderedFallbacks`. */
  private def slice(held: SessionCache.Held, q: SearchQuery): DataFrame = {
    require(q.limit >= 0, s"limit must be at least 0, got ${q.limit}")
    val m = SearchMetricsSource.getOrRegister()
    val cached = held.cached(q.where)
    cached.orElse(held.fold(q.where)) match {
      case Some(pos) =>
        m.searchCount.inc()
        if (cached.isDefined) m.pageSlices.inc()
        val s = held.slice(pos, q.startKey, q.limit)
        if (handoff.get != null) handoff.set(Some(s))
        s.page
      case None =>
        m.orderedFallbacks.inc()
        searcher.searchSnapshot(held.df, q)
    }
  }

  private def exists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Materialize one search as the reference's stdout contract: a single
    * JSON-array line (`executeAndPrint`, MetadataQueryExecutor.scala:57-60).
    * A slice of a driver-held snapshot joins the JSON its rows were
    * rendered with at build, with no plan; any other page renders inside
    * the page plan ([[MetadataSearch.jsonRows]]: one stage and no
    * shuffle). Latency/rows/failures land in the `graft.search` metrics
    * source.
    */
  def executeJson(q: SearchQuery): String = {
    handoff.set(None)
    try SearchMetricsSource.recordSearch {
      val page = execute(q)
      handoff.get.filter(_.page eq page).fold(MetadataSearch.jsonRows(page))(_.json)
    }.mkString("[", ",", "]")
    finally handoff.remove()
  }

  /** Drop a bucket's cached snapshot: the next request revalidates it
    * against the bucket's files, without waiting for the TTL. */
  def invalidate(bucket: String): Unit = cache.invalidate(bucket)

  /** Answer ONE request (the line-protocol JSON object) — the single
    * handler both faces share: [[serve]] feeds it stdin lines, and
    * [[HttpSearchServer]] feeds it request bodies / query-string
    * translations, so the two protocols cannot drift. Returns the
    * response JSON plus whether the request asked the server to stop.
    * Errors are answered in-band — a bad query must not kill the warm
    * executor on either face.
    */
  def handle(request: String): (String, Boolean) = {
    implicit val fmts: DefaultFormats.type = DefaultFormats
    try {
      val j: JValue = JsonMethods.parse(request)
      (j \ "cmd").extractOpt[String] match {
        case Some("shutdown") =>
          ("""{"ok":true}""", true)
        case Some("invalidate") =>
          invalidate((j \ "bucket").extract[String])
          ("""{"ok":true}""", false)
        case Some("metrics") =>
          val m = SearchMetricsSource.getOrRegister()
          (s"""{"searchCount":${m.searchCount.getCount},""" +
            s""""searchFailures":${m.searchFailures.getCount},""" +
            s""""rowsReturned":${m.rowsReturned.getCount},""" +
            s""""snapshotRebuilds":${snapshotRebuilds},""" +
            s""""snapshotBuilds":${m.snapshotBuilds.getCount},""" +
            s""""snapshotMerges":${zone.builds.get},""" +
            s""""snapshotDiskHits":${zone.diskHits.get},""" +
            s""""orderedFallbacks":${m.orderedFallbacks.getCount},""" +
            s""""pageSlices":${m.pageSlices.getCount}}""", false)
        case Some(other) =>
          // client-supplied string: escape it or a quote/control char
          // in `cmd` breaks the one-JSON-object-per-line protocol
          (s"""{"error":${jsonString(s"unknown cmd: $other")}}""", false)
        case None =>
          (executeJson(SearchQuery(
            bucket = (j \ "bucket").extract[String],
            where = (j \ "where").extractOpt[String].getOrElse(""),
            startKey = (j \ "startKey").extractOpt[String],
            limit = j \ "limit" match {
              case JNothing | JNull => 1000
              case JInt(n) if n.isValidInt => n.toInt
              case other => throw new IllegalArgumentException(
                s"limit must be an int, got ${JsonMethods.compact(other)}")
            })), false)
      }
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        (s"""{"error":${jsonString(msg)}}""", false)
    }
  }

  /** Serve requests line-by-line until EOF or a shutdown command; returns
    * the number of requests answered. One response line per request line,
    * errors answered in-band — the loop survives bad queries.
    */
  def serve(in: BufferedReader, out: PrintWriter): Long = {
    var served = 0L
    var running = true
    while (running) {
      val line = in.readLine()
      if (line == null) running = false
      else if (line.trim.nonEmpty) {
        served += 1
        val (response, stop) = handle(line)
        if (stop) running = false
        out.println(response)
        out.flush()
      }
    }
    served
  }

  override def close(): Unit = cache.close()
}

/** Minimal HTTP/REST face over a warm [[SearchServer]] — the wire shape a
  * reference client actually speaks (reference: `bin/search.py` issues
  * `GET /<bucket>?search=<urlencoded where>` against its gateway and
  * reads the JSON-array response; the Livy image fronts the resident
  * executor the same way). Built on the JDK's `com.sun.net.httpserver`
  * (zero dependencies, same classpath everywhere Spark runs).
  *
  * Routes (every search answer is the same bare JSON array the line
  * protocol emits — both faces share [[SearchServer.handle]]):
  *  - `GET /<bucket>?search=<where>[&limit=N][&start_key=K]` — the
  *    reference client's query shape, translated to the line protocol (a
  *    `limit` that is not an int answers 400, like any in-band error)
  *  - `POST /search` with a line-protocol JSON object body
  *  - `GET /metrics` — the `graft.search` counters (the line protocol's
  *    `{"cmd":"metrics"}`)
  *  - `POST /invalidate?bucket=<b>` — drop a bucket's snapshot
  *
  * A request whose URI does not parse (a malformed percent-escape such as
  * `%zz` or a trailing `%`) is answered 400 by the JDK server before any
  * route runs, so `URLDecoder` only ever sees well-formed escapes.
  *
  * Requests run on a fixed pool of `availableProcessors` handler threads
  * over the one warm session. A search over a small bucket's driver-held
  * snapshot is driver work only (a local fold, no job), so the pool
  * spreads it over the driver's cores; over a large bucket's persisted
  * snapshot it is a one-stage scan, and concurrent requests overlap their
  * planning and scheduling instead of queueing behind one another. A
  * snapshot revalidation or merge blocks only requests on that bucket, and
  * requests queued behind it are served its result without building
  * again; a persisted snapshot it replaces is unpersisted at swap, and a
  * request still running on it re-reads the zone files.
  */
class HttpSearchServer(server: SearchServer, port: Int = 0)
    extends AutoCloseable {
  import SearchServer.jsonString
  import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttp}

  private val http = JdkHttp.create(new java.net.InetSocketAddress(port), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors)
  @volatile private var stopRequested = false

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  http.createContext("/", (ex: HttpExchange) => {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/")
      val request = (ex.getRequestMethod, path) match {
        case ("POST", "search") =>
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        case ("GET", "metrics") => """{"cmd":"metrics"}"""
        case ("POST", "invalidate") =>
          val b = queryParams(ex).getOrElse("bucket", "")
          s"""{"cmd":"invalidate","bucket":${jsonString(b)}}"""
        case ("GET", bucket) if bucket.nonEmpty && !bucket.contains("/") =>
          // the reference client's shape: GET /<bucket>?search=<where>
          val p = queryParams(ex)
          // an integer passes as a JSON number, anything else as a string,
          // and [[SearchServer.handle]] answers what is not an int with an error
          val limit = p.get("limit").map(v => scala.util.Try(BigInt(v).toString)
            .getOrElse(jsonString(v))).getOrElse("1000")
          val sk = p.get("start_key").map(k => s""","startKey":${jsonString(k)}""")
            .getOrElse("")
          s"""{"bucket":${jsonString(bucket)},"where":${jsonString(
            p.getOrElse("search", ""))},"limit":$limit$sk}"""
        case _ => ""
      }
      if (request.isEmpty)
        respond(ex, 404, """{"error":"unknown route"}""")
      else {
        val (body, stop) = server.handle(request)
        if (stop) stopRequested = true
        respond(ex, if (body.startsWith("""{"error""")) 400 else 200, body)
      }
    } catch {
      case e: Throwable =>
        try respond(ex, 500, s"""{"error":${jsonString(
          Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
        catch { case _: Throwable => () }
    }
  })
  http.setExecutor(pool)
  http.start()

  /** The bound port (for `port = 0` ephemeral binds in specs). */
  def boundPort: Int = http.getAddress.getPort

  /** Block until a `{"cmd":"shutdown"}` request arrives. */
  def awaitShutdown(pollMillis: Long = 200L): Unit =
    while (!stopRequested) Thread.sleep(pollMillis)

  override def close(): Unit = {
    http.stop(0)
    pool.shutdownNow()
    ()
  }
}

/** `runMain graft.search.SearchServer [--http <port>] <landingDir>
  * <stagingDir> [ttlMs]` — build one session and serve until shutdown:
  * stdin-JSONL by default (the gateway pipes queries in), or the REST
  * face on `--http` (the reference's Livy-gateway port is 8998). Session
  * + cache warmth amortizes across all requests either way.
  */
object SearchServer {

  /** `s` as a JSON string literal; a raw control character inside one is
    * not JSON, so it is written as a JSON unicode escape. */
  private[search] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val httpPort = args.sliding(2).collectFirst {
      case Array("--http", p) => p.toInt }
    val rest = {
      val i = args.indexOf("--http")
      if (i < 0) args else args.patch(i, Nil, 2)
    }
    require(rest.length >= 2,
      "usage: SearchServer [--http <port>] <landingDir> <stagingDir> [cacheTtlMillis]")
    val ttl = if (rest.length > 2) rest(2).toLong else 60000L
    val spark = graft.GraftConfig.cliSession("graft-search-server")
    val server = new SearchServer(spark, rest(0), rest(1), ttl)
    try httpPort match {
      case Some(p) =>
        val h = new HttpSearchServer(server, p)
        System.err.println(s"[graft] http search server on port ${h.boundPort}")
        try h.awaitShutdown() finally h.close()
      case None =>
        server.serve(
          new BufferedReader(
            new InputStreamReader(System.in, StandardCharsets.UTF_8)),
          new PrintWriter(System.out))
        ()
    } finally {
      server.close()
      spark.stop()
    }
  }
}
