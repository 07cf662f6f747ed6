package graft

import java.io.{BufferedReader, PrintWriter, StringReader, StringWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicIntegerArray}

import scala.jdk.CollectionConverters._

import graft.ingest.IngestPipeline
import graft.search.{HttpSearchServer, MetadataSearch, SearchQuery, SearchServer, SessionCache}
import graft.tools.Populator
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SortExec,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExecBase
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The warm long-lived executor mode (reference:
  * MetadataQueryExecutor.scala:17-60): N mixed-bucket queries through ONE
  * resident session, snapshot built once per bucket, errors answered
  * in-band, invalidation forces a rebuild.
  */
class SearchServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private implicit val fmts: DefaultFormats.type = DefaultFormats

  private lazy val (landing, staging) = {
    val l = SparkTestSession.tempDir("srv-landing")
    val s = SparkTestSession.tempDir("srv-staging")
    Populator.populateLanding(spark, l, "sb1", 60, groupInterval = 40L)
    Populator.populateLanding(spark, l, "sb2", 40, groupInterval = 40L)
    (l, s)
  }

  private def serve(server: SearchServer, lines: Seq[String]): Seq[String] = {
    val out = new StringWriter()
    server.serve(new BufferedReader(new StringReader(lines.mkString("\n"))),
      new PrintWriter(out))
    out.toString.linesIterator.toSeq.filter(_.nonEmpty)
  }

  private def keysOf(jsonArrayLine: String): Seq[String] =
    JsonMethods.parse(jsonArrayLine).children.map(c => (c \ "key").extract[String])

  private def request(port: Int, method: String, pathAndQuery: String,
                      body: String = ""): (Int, String) = {
    val conn = java.net.URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    if (body.nonEmpty) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    (code, new String(is.readAllBytes(), "UTF-8"))
  }

  /** `k` as the body of a JSON string literal. */
  private def esc(k: String): String = k.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }

  test("one warm session serves 12 mixed-bucket queries with one snapshot build per bucket") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
    try {
      val pizza = """ userMd.`x-amz-meta-food` = 'pizza' """
      val requests = Seq(
        s"""{"bucket":"sb1"}""",
        s"""{"bucket":"sb2"}""",
        s"""{"bucket":"sb1","limit":5}""",
        s"""{"bucket":"sb2","limit":7}""",
        s"""{"bucket":"sb1","where":"$pizza"}""",
        s"""{"bucket":"sb2","where":"$pizza"}""",
        s"""{"bucket":"sb1","startKey":"obj_0000000009"}""",
        s"""{"bucket":"sb2","startKey":"obj_0000000009","limit":3}""",
        s"""{"bucket":"sb1","where":"`content-length` < 1024"}""",
        s"""{"bucket":"sb2","where":"`content-length` < 1024","limit":4}""",
        s"""{"bucket":"sb1","where":"$pizza","startKey":"obj_0000000004","limit":6}""",
        s"""{"bucket":"sb2","where":"$pizza","startKey":"obj_0000000004","limit":6}""")
      val responses = serve(server, requests)
      assert(responses.size == 12, s"one response line per request: $responses")
      assert(responses.forall(_.startsWith("[")),
        "every search response is the reference's bare JSON-array line")

      // the warm executor built exactly one snapshot per bucket — queries
      // 3..12 planned against the cached merge, no re-scan
      assert(server.snapshotRebuilds == 2,
        s"expected 2 snapshot builds (one per bucket), got ${server.snapshotRebuilds}")

      // results are correct: match the direct (uncached) search path
      def direct(q: SearchQuery): Seq[String] =
        server.searcher.search(q).select("key").as[String].collect().toSeq
      assert(keysOf(responses(0)) == direct(SearchQuery("sb1")))
      assert(keysOf(responses(2)) == direct(SearchQuery("sb1", limit = 5)))
      assert(keysOf(responses(3)) == direct(SearchQuery("sb2", limit = 7)))
      assert(keysOf(responses(7)) ==
        direct(SearchQuery("sb2", startKey = Some("obj_0000000009"), limit = 3)))
      val pizzaWhere = " userMd.`x-amz-meta-food` = 'pizza' "
      assert(keysOf(responses(4)) == direct(SearchQuery("sb1", pizzaWhere)))
      assert(keysOf(responses(10)) == direct(SearchQuery("sb1", pizzaWhere,
        Some("obj_0000000004"), 6)))
      assert(keysOf(responses(4)).nonEmpty && keysOf(responses(2)).size == 5)

      // pages are key-ordered (the ORDER BY key LIMIT n contract)
      responses.take(12).map(keysOf).foreach(ks => assert(ks == ks.sorted))
    } finally server.close()
  }

  test("errors answer in-band, invalidation rebuilds, shutdown stops the loop") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
    try {
      val responses = serve(server, Seq(
        """{"bucket":"sb1","limit":2}""",
        """not json at all""",
        """{"bucket":"sb1","where":"this is not sql"}""",
        """{"cmd":"invalidate","bucket":"sb1"}""",
        """{"bucket":"sb1","limit":2}""",
        """{"cmd":"metrics"}""",
        """{"cmd":"shutdown"}""",
        """{"bucket":"sb1"}"""))
      // shutdown stops the loop: the trailing query is never answered
      assert(responses.size == 7, s"expected 7 responses, got: $responses")
      assert(responses(1).startsWith("""{"error":"""), "bad JSON answers in-band")
      assert(responses(2).startsWith("""{"error":"""), "bad SQL answers in-band")
      assert(responses(3) == """{"ok":true}""")
      // query(1) built the snapshot; invalidate forced query(5) to rebuild
      assert(server.snapshotRebuilds == 2,
        s"invalidate must force a rebuild, got ${server.snapshotRebuilds}")
      assert(keysOf(responses(0)) == keysOf(responses(4)),
        "rebuilt snapshot returns the same page")
      val metrics = JsonMethods.parse(responses(5))
      assert((metrics \ "searchCount").extract[Long] > 0)
      assert((metrics \ "snapshotRebuilds").extract[Long] == 2)
      assert(responses(6) == """{"ok":true}""")
    } finally server.close()
  }

  test("a compaction makes no rebuild within the TTL and every page is unchanged") {
    // fresh zones — compaction purges landing, so the shared fixture
    // must not be touched
    val l = SparkTestSession.tempDir("srv-compact-ttl-landing")
    val s = SparkTestSession.tempDir("srv-compact-ttl-staging")
    Populator.populateLanding(spark, l, "eb1", 60, groupInterval = 20L)
    val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val queries = Seq(SearchQuery("eb1", limit = 50),
      SearchQuery("eb1", "`content-length` < 1024", limit = 9),
      SearchQuery("eb1", startKey = Some("obj_0000000009"), limit = 11))
    def direct(q: SearchQuery): Seq[String] =
      server.searcher.search(q).select("key").as[String].collect().toSeq
    try {
      val before = queries.map(server.executeJson)
      assert(keysOf(before.head).nonEmpty && queries.map(server.executeJson) == before)
      assert(server.snapshotRebuilds == 1, "second round must be warm")

      // a compactor in what is operationally ANOTHER process rewrites the
      // zones and purges the landing op-groups it folded; no invalidate
      // command is ever sent to the server
      new graft.compact.Compactor(spark, l, s).compactBucket("eb1", numPartitions = 2)
      assert(new java.io.File(s"$s/bucket=eb1").exists())

      // compaction keeps every key's latest event: the cached snapshot
      // still answers every page, and is not rebuilt before its TTL
      assert(queries.map(server.executeJson) == before)
      assert(server.snapshotRebuilds == 1 && server.zone.builds.get == 1,
        s"a compaction rebuilt within the TTL: ${server.snapshotRebuilds}")
      assert(before.map(keysOf) == queries.map(direct), "the compacted zones answer the same")
    } finally server.close()
  }

  test("HTTP face: reference client GET, POST /search, metrics, errors in-band") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
    val http = new graft.search.HttpSearchServer(server, port = 0)
    try {
      def fetch(method: String, pathAndQuery: String, body: String = "")
          : (Int, String) = request(http.boundPort, method, pathAndQuery, body)
      // the reference client's exact shape (bin/search.py):
      // GET /<bucket>?search=<urlencoded where>[&limit] -> JSON array
      val where = java.net.URLEncoder.encode(
        " userMd.`x-amz-meta-food` = 'pizza' ", "UTF-8")
      val (c1, b1) = fetch("GET", s"/sb1?search=$where&limit=5")
      assert(c1 == 200 && b1.startsWith("[") && b1.endsWith("]"))
      val httpKeys = keysOf(b1)
      // and it answers exactly what the line protocol answers — shared handler
      val lineKeys = keysOf(serve(server, Seq(
        s"""{"bucket":"sb1","where":" userMd.`x-amz-meta-food` = 'pizza' ","limit":5}""")).head)
      assert(httpKeys == lineKeys && httpKeys.nonEmpty)
      // POST /search takes the line-protocol object verbatim
      val (c2, b2) = fetch("POST", "/search",
        """{"bucket":"sb2","limit":3}""")
      assert(c2 == 200 && keysOf(b2).size == 3)
      // start_key paginates like the line protocol's startKey
      val (c3, b3) = fetch("GET",
        s"/sb1?search=&limit=4&start_key=obj_0000000009")
      assert(c3 == 200 && keysOf(b3).forall(_ > "obj_0000000009"))
      // metrics and invalidate round-trip
      val (cm, bm) = fetch("GET", "/metrics")
      assert(cm == 200 && bm.contains("\"searchCount\""))
      val (ci, bi) = fetch("POST", "/invalidate?bucket=sb1")
      assert(ci == 200 && bi == """{"ok":true}""")
      // a bad query answers 400 with the in-band error, server survives
      val (ce, be) = fetch("POST", "/search", """{"bucket":"sb1","where":"NOT SQL ("}""")
      assert(ce == 400 && be.contains("\"error\""))
      val (cu, _) = fetch("GET", "/no/such/route")
      assert(cu == 404)
      val (cOk, _) = fetch("GET", s"/sb1?search=&limit=1")
      assert(cOk == 200, "the warm executor survives bad requests")
    } finally {
      http.close()
      server.close()
    }
  }

  test("warm queries launch no scan of the zone files (persisted snapshot reused)") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L,
      localMaxBytes = 0L)
    try {
      serve(server, Seq("""{"bucket":"sb1","limit":1}"""))
      val persistedAfterFirst = spark.sparkContext.getPersistentRDDs.keySet
      assert(persistedAfterFirst.nonEmpty, "first query materializes the snapshot")
      serve(server, Seq(
        """{"bucket":"sb1","limit":9}""",
        """{"bucket":"sb1","where":"`content-length` < 512"}"""))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persistedAfterFirst,
        "warm queries add no new persisted snapshot")
      assert(server.snapshotRebuilds == 1)
    } finally server.close()
  }

  test("the JSON page is byte-identical to Dataset.toJSON: nulls, maps, arrays, timestamps, odd keys") {
    val l = SparkTestSession.tempDir("srv-json-landing")
    val s = SparkTestSession.tempDir("srv-json-staging")
    def env(op: Int, key: String, value: String) =
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"put","bucket":"jb","key":"${esc(key)}","value":$value}"""
    val full = """{"owner-id":"o-1","owner-display-name":"Ann","content-length":42,""" +
      """"last-modified":"2024-03-05T06:07:08.123Z","content-md5":"abc",""" +
      """"x-amz-storage-class":"STANDARD","x-amz-meta-color":"blüe\u0007",""" +
      """"location":[{"key":"loc1","size":42,"start":0,"dataStoreName":"file"}]}"""
    val oddKeys = Seq("ключ-日本-é", "ctl\u0001x\u001fy\tz\"q\\b", "emoji-\ud83d\ude00")
    val lines = env(1, "plain", full) +: env(2, "nulls", "{}") +:
      oddKeys.zipWithIndex.map { case (k, i) => env(3 + i, k, full) }
    IngestPipeline.batchIngest(spark, lines.toDF("value"), l, groupInterval = 100L)
    val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    try {
      val q = SearchQuery("jb")
      val page = server.executeJson(q)
      val viaToJson = "[" + server.execute(q).toJSON.collect().mkString(",") + "]"
      assert(page == viaToJson)
      assert(keysOf(page).toSet == (Seq("plain", "nulls") ++ oddKeys).toSet)
      assert(page.contains("\\u0001") && page.contains("日本"),
        "the fixture carries control and non-ASCII characters")
      assert(page.contains("\"last-modified\":\"2024-03-05T06:07:08.123Z\""))
      assert(JsonMethods.parse(page).children.exists(r => (r \ "owner-id") == org.json4s.JNothing),
        "null fields are omitted, as toJSON omits them")
      // every payload column, the userMd map and the location array included
      val wide = server.searcher.bucketSnapshot("jb").orderBy("key")
      val wideRows = MetadataSearch.jsonRows(wide)
      assert(wideRows.toSeq == wide.toJSON.collect().toSeq)
      assert(wideRows.exists(r => r.contains("\"userMd\":{\"x-amz-meta-color\"") &&
        r.contains("\"location\":[{\"key\":\"loc1\"")))
    } finally server.close()
  }

  test("a warm page is one stage: TakeOrderedAndProject over a parquet-backed cached scan") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L,
      localMaxBytes = 0L)
    try {
      serve(server, Seq("""{"bucket":"sb1","limit":1}"""))
      val q = SearchQuery("sb1", where = "`content-length` < 1024",
        startKey = Some("obj_0000000003"), limit = 5)
      val plan = MetadataSearch.jsonPage(server.execute(q)).queryExecution.executedPlan
      assert(plan.isInstanceOf[TakeOrderedAndProjectExec], plan.treeString)
      assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
      val cached = plan.collect { case m: InMemoryTableScanExec => m.relation.cachedPlan }
      assert(cached.size == 1, plan.treeString)
      val nodes = cached.head.collect { case p => p }
      assert(nodes.exists {
        case f: FileSourceScanExec => f.relation.fileFormat.isInstanceOf[ParquetFileFormat]
        case _ => false
      }, cached.head.treeString)
      assert(!nodes.exists(p => p.isInstanceOf[WindowExecBase] ||
        p.isInstanceOf[BaseAggregateExec] || p.isInstanceOf[BaseJoinExec] ||
        p.isInstanceOf[Exchange]), cached.head.treeString)
      assert(server.snapshotRebuilds == 1)
    } finally server.close()
  }

  test("8 concurrent clients over 3 buckets across a compaction: 3 rebuilds, answers byte-equal to a serial server") {
    val l = SparkTestSession.tempDir("srv-conc-landing")
    val s = SparkTestSession.tempDir("srv-conc-staging")
    val buckets = Seq("cb0", "cb1", "cb2")
    buckets.foreach(b => Populator.populateLanding(spark, l, b, 60, groupInterval = 20L))
    val pizza = """ userMd.`x-amz-meta-food` = 'pizza' """
    val requests = for {
      b <- buckets
      r <- Seq(s"""{"bucket":"$b"}""", s"""{"bucket":"$b","limit":7}""",
        s"""{"bucket":"$b","where":"$pizza"}""",
        s"""{"bucket":"$b","startKey":"obj_0000000009","limit":11}""",
        s"""{"bucket":"$b","where":"`content-length` < 1024","limit":13}""")
    } yield r
    val serial = {
      val ref = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
      try requests.map(r => ref.handle(r)._1) finally ref.close()
    }
    assert(serial.forall(_.startsWith("[")), serial)

    val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val http = new HttpSearchServer(server, port = 0)
    val perBucket = new AtomicIntegerArray(buckets.size)
    val compacted = new AtomicBoolean(false)
    val afterCompaction = new AtomicInteger(0)
    // requests per bucket sent after the compaction: the clients run until
    // every bucket has one, or a run could end before any touches cb1
    val sentAfter = new AtomicIntegerArray(buckets.size)
    val errors = new ConcurrentLinkedQueue[String]()
    try {
      val threads = (0 until 8).map { t =>
        val th = new Thread(() =>
          try {
            var i = t
            while (afterCompaction.get < 3 * requests.size ||
                (afterCompaction.get < Int.MaxValue &&
                  (0 until buckets.size).exists(sentAfter.get(_) == 0))) {
              val k = i % requests.size
              val after = compacted.get
              val (code, body) = request(http.boundPort, "POST", "/search", requests(k))
              if (code != 200 || body != serial(k)) errors.add(s"${requests(k)} -> $code $body")
              perBucket.incrementAndGet(k / 5)
              if (after) sentAfter.incrementAndGet(k / 5)
              if (compacted.get) afterCompaction.incrementAndGet()
              i += 1
            }
          } catch { case e: Throwable => errors.add(e.toString); afterCompaction.set(Int.MaxValue) })
        th.start()
        th
      }
      // every bucket answered from its first snapshot before the compactor runs
      val deadline = System.currentTimeMillis() + 120000L
      while ((0 until buckets.size).exists(perBucket.get(_) == 0) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(server.snapshotRebuilds == 3)
      // the compactor purges cb1's landing op-groups while clients are served
      new graft.compact.Compactor(spark, l, s).compactBucket("cb1", numPartitions = 2)
      compacted.set(true)
      threads.foreach(_.join(180000L))
      assert(errors.isEmpty, errors.toArray.take(3).mkString("\n"))
      assert(!threads.exists(_.isAlive), "clients did not finish")
      // one build per bucket: within the TTL the compaction is not re-merged
      assert(server.snapshotRebuilds == 3, s"rebuilds: ${server.snapshotRebuilds}")
    } finally {
      afterCompaction.set(Int.MaxValue)
      http.close()
      server.close()
    }
  }

  test("a small-bucket page is a bare LocalTableScan and runs no job") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // the listener bus delivers in order: once a marker job is seen, every
    // job started before it has been seen too
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!jobs.contains(name) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(jobs.contains(name), s"marker $name never seen")
    }
    sc.addSparkListener(listener)
    try {
      serve(server, Seq("""{"bucket":"sb1","limit":1}"""))
      val q = SearchQuery("sb1", where = "`content-length` < 1024",
        startKey = Some("obj_0000000003"), limit = 5)
      val plan = MetadataSearch.jsonPage(server.execute(q)).queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
      assert(!plan.exists(p => p.isInstanceOf[SortExec] || p.isInstanceOf[Exchange] ||
        p.isInstanceOf[TakeOrderedAndProjectExec]), plan.treeString)

      marker("before-pages")
      val pages = (0 until 20).map(i => server.executeJson(SearchQuery("sb1",
        where = if (i % 2 == 0) "" else s"`content-length` < ${512 + 50 * i}",
        startKey = if (i % 3 == 0) None else Some(f"obj_$i%010d"), limit = 1 + i)))
      marker("after-pages")
      assert(pages.forall(_.startsWith("[")) && pages.exists(keysOf(_).nonEmpty))
      val seen = jobs.toArray.toSeq
      assert(seen.dropWhile(_ != "before-pages") == Seq("before-pages", "after-pages"),
        s"jobs seen: $seen")
      assert(server.snapshotRebuilds == 1)
    } finally {
      sc.removeSparkListener(listener)
      server.close()
    }
  }

  /** Keys that sort differently in UTF-8 bytes (Spark) and UTF-16 units
    * (Java): U+FFFD precedes U+1F600 in Spark, follows it in Java. */
  private lazy val oddZones = {
    val l = SparkTestSession.tempDir("srv-odd-landing")
    val s = SparkTestSession.tempDir("srv-odd-staging")
    var op = 0
    def put(b: String, key: String, i: Int): String = {
      op += 1
      val md = s"""{"owner-id":"o-${i % 3}","content-length":${i * 37 % 1000},""" +
        s""""x-amz-meta-color":"${Seq("red", "blue")(i % 2)}"}"""
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"put","bucket":"$b","key":"${esc(key)}","value":$md}"""
    }
    def del(b: String, key: String): String = {
      op += 1
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"delete","bucket":"$b","key":"${esc(key)}"}"""
    }
    val odd = Seq("ctl\u0001x", "tab\tkey", "ключ", "日本", "é", "\ufffd-repl",
      "\ud83d\ude00-emoji", "\ud83d\ude00\ufffd", "\ufffd\ud83d\ude00", "Z", "~tilde",
      "ver\u0000sioned")
    val keys = (0 until 30).map(i => f"k$i%03d") ++ odd
    val first = keys.zipWithIndex.map { case (k, i) => put("ob", k, i) } ++
      Seq("gone", "back").map(put("ob", _, 3)) ++
      Seq("x1", "x2", "x3").map(put("od", _, 1))
    IngestPipeline.batchIngest(spark, first.toDF("value"), l, groupInterval = 10L)
    new graft.compact.Compactor(spark, l, s).compactBucket("ob", numPartitions = 2, force = true)
    // a landing wave over the compacted bucket: deletes, an overwrite, a
    // delete of a key only staging holds, and a re-put after a delete
    val second = Seq(del("ob", "gone"), del("ob", "k005"), put("ob", "k006", 7),
      del("ob", "back"), put("ob", "back", 11), put("ob", "new-in-landing", 13)) ++
      Seq("x1", "x2", "x3").map(del("od", _))
    IngestPipeline.batchIngest(spark, second.toDF("value"), l, groupInterval = 10L)
    (l, s)
  }

  test("small-bucket pages equal parquet-path pages byte for byte") {
    val (l, s) = oddZones
    val local = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val parquet = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = 0L)
    try {
      val all = keysOf(parquet.executeJson(SearchQuery("ob")))
      assert(all.size == 30 - 1 + 11 + 2, all) // k005, gone and the NUL key are hidden
      assert(!all.contains("gone") && !all.contains("k005") && all.contains("back"))
      assert(all.indexOf("\ufffd-repl") < all.indexOf("\ud83d\ude00-emoji"),
        "Spark's order puts U+FFFD before a surrogate pair")
      val preds = Seq("", "userMd['x-amz-meta-color'] = 'red'", "`content-length` > 300",
        "`content-length` BETWEEN 100 AND 700 AND userMd['x-amz-meta-color'] = 'blue'",
        "`owner-id` = 'o-1'")
      val cursors = Seq(None, Some(""), Some("k010"), Some("k010a"), Some("\ufffd-repl"),
        Some("\ufffd\ud83d"), Some(all.last), Some(all.last + "~"))
      var compared = 0
      for (b <- Seq("ob", "od", "none"); w <- preds; c <- cursors; n <- Seq(1, 7, 1000)) {
        val q = SearchQuery(b, w, c, n)
        val want = parquet.executeJson(q)
        assert(local.executeJson(q) == want, q)
        if (b == "ob" && want != "[]") compared += 1
      }
      assert(compared > 60, s"$compared of 120 pages over ob are non-empty")
      assert(local.executeJson(SearchQuery("od")) == "[]" &&
        local.executeJson(SearchQuery("none")) == "[]")
      // `none` has no files in either zone, so it makes no entry
      assert(local.snapshotRebuilds == 2 && parquet.snapshotRebuilds == 2)
    } finally {
      local.close()
      parquet.close()
    }
  }

  test("snapshotBuilds and orderedFallbacks count builds and fallbacks") {
    val (l, s) = oddZones
    val m = SearchMetricsSource.getOrRegister()
    // a durable zone root of its own: the first snapshot here is a cold merge
    spark.conf.set("spark.graft.derived.dir", SparkTestSession.tempDir("srv-metrics-root"))
    val local = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val parquet = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = 0L)
    /** The snapshot zone's merges and disk hits, as `{"cmd":"metrics"}` serves them. */
    def zoneCounts(server: SearchServer): (Long, Long) = {
      val j = JsonMethods.parse(server.handle("""{"cmd":"metrics"}""")._1)
      ((j \ "snapshotMerges").extract[Long], (j \ "snapshotDiskHits").extract[Long])
    }
    try {
      val (b0, f0) = (m.snapshotBuilds.getCount, m.orderedFallbacks.getCount)
      local.executeJson(SearchQuery("ob", limit = 3))
      assert(m.snapshotBuilds.getCount == b0 + 1 && m.orderedFallbacks.getCount == f0)
      assert(zoneCounts(local) == ((1L, 0L)), "a cold build merges once")
      local.executeJson(SearchQuery("ob", "`content-length` > 100", Some("k002"), 4))
      assert(m.snapshotBuilds.getCount == b0 + 1 && m.orderedFallbacks.getCount == f0,
        "a warm hit moves neither counter")
      // a scalar subquery cannot be evaluated on the driver: the page is
      // re-planned with ORDER BY over the same rows, and counted
      val q = SearchQuery("ob", "`content-length` > (SELECT max(id) * 50 FROM range(5))",
        Some("k003"), 6)
      val page = local.executeJson(q)
      assert(m.orderedFallbacks.getCount == f0 + 1)
      assert(page == parquet.executeJson(q) && keysOf(page).size == 6, page)
      val metrics = JsonMethods.parse(local.handle("""{"cmd":"metrics"}""")._1)
      assert((metrics \ "snapshotBuilds").extract[Long] == m.snapshotBuilds.getCount)
      assert((metrics \ "orderedFallbacks").extract[Long] == f0 + 1)
      assert((metrics \ "snapshotRebuilds").extract[Long] == 1)
      assert(zoneCounts(local) == ((1L, 0L)) && zoneCounts(parquet) == ((0L, 1L)),
        "a second server on the same files merges nothing")

      // a restart on the durable root serves the published merge from disk
      local.close()
      val restarted = new SearchServer(spark, l, s, cacheTtlMillis = 1L)
      try {
        val first = restarted.executeJson(SearchQuery("ob", limit = 3))
        assert(zoneCounts(restarted) == ((0L, 1L)), "a restart reads the zone, no merge")
        // a TTL expiry over unchanged files moves neither counter
        Thread.sleep(5)
        assert(restarted.executeJson(SearchQuery("ob", limit = 3)) == first)
        assert(zoneCounts(restarted) == ((0L, 1L)))
      } finally restarted.close()
    } finally {
      local.close()
      parquet.close()
      spark.conf.unset("spark.graft.derived.dir")
    }
  }

  /** Run `body` with a durable zone root of its own, and the purge grace
    * if given. */
  private def withZoneRoot[T](graceMs: Option[Long] = None)(body: String => T): T = {
    val root = SparkTestSession.tempDir("srv-zone-root")
    spark.conf.set("spark.graft.derived.dir", root)
    graceMs.foreach(g => spark.conf.set("spark.graft.derived.purgeGraceMs", g.toString))
    try body(root)
    finally {
      spark.conf.unset("spark.graft.derived.dir")
      spark.conf.unset("spark.graft.derived.purgeGraceMs")
    }
  }

  /** Both snapshot forms: persisted (bound 0) and driver-held (the default
    * bound). */
  private val bounds = Seq(0L, SessionCache.LocalMaxBytes)

  private def op(i: Int): String = "%012d_000000".format(i)
  private def obj(i: Int): String = "obj_%010d".format(i)

  /** Land a wave on bucket `zb` from op `first` on: a delete of a key
    * staging holds, an overwrite and a new key. */
  private def landWave(l: String, first: Int): Unit = {
    val md = """{"owner-id":"o-w","content-length":7}"""
    IngestPipeline.batchIngest(spark, Seq(
      s"""{"opIndex":"${op(first)}","type":"delete","bucket":"zb","key":"${obj(first % 40)}"}""",
      s"""{"opIndex":"${op(first + 1)}","type":"put","bucket":"zb","key":"${obj(first % 40 + 1)}","value":$md}""",
      s"""{"opIndex":"${op(first + 2)}","type":"put","bucket":"zb","key":"${obj(first)}","value":$md}"""
    ).toDF("value"), l, groupInterval = 10L)
  }

  /** Fresh zones for bucket `zb`: 40 keys compacted to staging, then one
    * landing wave. */
  private def zbZones(name: String): (String, String) = {
    val l = SparkTestSession.tempDir(s"$name-landing")
    val s = SparkTestSession.tempDir(s"$name-staging")
    Populator.populateLanding(spark, l, "zb", 40, groupInterval = 10L)
    new graft.compact.Compactor(spark, l, s).compactBucket("zb", numPartitions = 2, force = true)
    landWave(l, 100)
    (l, s)
  }

  private val zbQueries = Seq(SearchQuery("zb"),
    SearchQuery("zb", "`content-length` < 1024", limit = 7),
    SearchQuery("zb", startKey = Some(obj(9)), limit = 11))

  private def pages(server: SearchServer): Seq[String] = zbQueries.map(server.executeJson)

  /** The fingerprint directories the snapshot zones under `root` published. */
  private def fpDirs(root: String): Seq[java.io.File] =
    new java.io.File(s"$root/search_snapshot").listFiles().toSeq
      .flatMap(_.listFiles()).filter(d => d.isDirectory && !d.getName.startsWith("."))

  /** The same pages from the uncached search path. */
  private def direct(server: SearchServer): Seq[String] = zbQueries.map(q =>
    "[" + MetadataSearch.jsonRows(server.searcher.search(q)).mkString(",") + "]")

  test("a TTL expiry over unchanged files keeps the snapshot: no merge, no persist, no collect") {
    bounds.foreach { bound =>
      val (l, s) = zbZones(s"srv-ttl-$bound")
      val server = new SearchServer(spark, l, s, cacheTtlMillis = 1L, localMaxBytes = bound)
      try {
        val first = pages(server)
        val persisted = spark.sparkContext.getPersistentRDDs.keySet
        Thread.sleep(5)
        assert(pages(server) == first && first == direct(server))
        assert(server.zone.builds.get == 1, s"bound $bound: the TTL expiry merged again")
        assert(server.snapshotRebuilds == 1,
          s"bound $bound: the TTL expiry made a new entry (a collect or a persist)")
        assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
      } finally server.close()
    }
  }

  test("a server restarted on a durable zone root serves identical pages with no zone build") {
    bounds.foreach { bound =>
      withZoneRoot() { _ =>
        val (l, s) = zbZones(s"srv-restart-$bound")
        val first = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = bound)
        val before = try pages(first) finally first.close()
        assert(first.zone.builds.get == 1)
        val restarted = new SearchServer(spark, l, s, cacheTtlMillis = 600000L,
          localMaxBytes = bound)
        try {
          assert(pages(restarted) == before, s"bound $bound")
          assert(restarted.zone.builds.get == 0 && restarted.zone.diskHits.get == 1)
          assert(before == direct(restarted))
        } finally restarted.close()
      }
    }
  }

  test("a landing append rebuilds after the TTL, matches a direct search and prunes the superseded zone") {
    bounds.foreach { bound =>
      withZoneRoot(graceMs = Some(-1L)) { root =>
        val (l, s) = zbZones(s"srv-append-$bound")
        // a superseded fingerprint directory stands for one a dead process
        // left behind
        def fpNames(): Set[String] = fpDirs(root).map(_.getName).toSet
        val server = new SearchServer(spark, l, s, cacheTtlMillis = 1L, localMaxBytes = bound)
        try {
          val before = pages(server)
          assert(before == direct(server))
          val v1 = fpNames()
          assert(v1.size == 1, v1)
          landWave(l, 200)
          Thread.sleep(5)
          val after = pages(server)
          assert(after != before && after == direct(server), s"bound $bound")
          assert(server.snapshotRebuilds == 2 && server.zone.builds.get == 2)
          val v2 = fpNames()
          assert(v2.size == 1 && v2 != v1, s"superseded fingerprint directory not pruned: $v2")
        } finally server.close()
      }
    }
  }

  test("a page planned before a swap still collects when the superseded zone was published long ago") {
    withZoneRoot(graceMs = Some(10 * 60 * 1000L)) { root =>
      val (l, s) = zbZones("srv-grace")
      val server = new SearchServer(spark, l, s, cacheTtlMillis = 1L, localMaxBytes = 0L)
      try {
        val before = pages(server)
        val Seq(v1) = fpDirs(root)
        // published an hour ago, far longer ago than the grace
        val hourAgo = System.currentTimeMillis() - 3600 * 1000L
        v1.setLastModified(hourAgo)
        // a request planned over the cached snapshot, not yet run
        val planned = server.execute(zbQueries.head)
        assert(planned.queryExecution.executedPlan.exists(_.isInstanceOf[InMemoryTableScanExec]))
        // the next publish supersedes v1, and the swap unpersists its cache
        landWave(l, 200)
        Thread.sleep(5)
        assert(pages(server) == direct(server))
        assert(fpDirs(root).exists(_.getName == v1.getName),
          "a zone superseded just now was pruned")
        assert("[" + MetadataSearch.jsonRows(planned).mkString(",") + "]" == before.head,
          "a page planned before the swap failed or changed")
        // once its supersession is older than the grace, a publish prunes it
        new java.io.File(v1, "_graft_superseded").setLastModified(hourAgo)
        landWave(l, 300)
        Thread.sleep(5)
        assert(pages(server) == direct(server))
        val left = fpDirs(root).map(_.getName)
        assert(left.size == 2 && !left.contains(v1.getName), left)
      } finally server.close()
    }
  }

  test("a compaction with a delete of a compacted key rebuilds once and matches a direct search") {
    // the TTL outlasts the compactions below, and one wait then expires
    // every server's entry
    val ttlMs = 20000L
    val runs = bounds.map { bound =>
      val (l, s) = zbZones(s"srv-compact-$bound")
      (bound, l, s, new SearchServer(spark, l, s, cacheTtlMillis = ttlMs, localMaxBytes = bound))
    }
    try {
      val t0 = System.currentTimeMillis()
      val before = runs.map { case (bound, _, _, server) =>
        val p = pages(server)
        assert(p == direct(server) && !p.head.contains(obj(100 % 40) + "\""), s"bound $bound")
        p
      }
      val built = System.currentTimeMillis()
      runs.zip(before).foreach { case ((bound, l, s, server), b) =>
        // the landing wave's delete of a staged key is compacted here
        new graft.compact.Compactor(spark, l, s).compactBucket("zb", numPartitions = 2,
          force = true)
        assert(System.currentTimeMillis() - t0 < ttlMs, "the compactions outlasted the TTL")
        assert(pages(server) == b, s"bound $bound")
        assert(server.snapshotRebuilds == 1 && server.zone.builds.get == 1,
          s"bound $bound: a compaction rebuilt within the TTL")
      }
      Thread.sleep(math.max(0L, built + ttlMs + 100 - System.currentTimeMillis()))
      runs.zip(before).foreach { case ((bound, _, _, server), b) =>
        val after = pages(server)
        assert(server.snapshotRebuilds == 2 && server.zone.builds.get == 2, s"bound $bound")
        assert(after == direct(server) && after == b, s"bound $bound")
      }
    } finally runs.foreach(_._4.close())
  }

  test("a warm hit reads no zone file") {
    bounds.foreach { bound =>
      val (l, s) = zbZones(s"srv-nofile-$bound")
      val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = bound)
      try {
        val warm = pages(server)
        assert(warm.head != "[]" && warm == direct(server))
        // the bucket's files are gone from both zones
        val away = SparkTestSession.tempDir(s"srv-nofile-away-$bound")
        Seq("landing" -> l, "staging" -> s).foreach { case (name, zone) =>
          java.nio.file.Files.move(java.nio.file.Paths.get(s"$zone/bucket=zb"),
            java.nio.file.Paths.get(s"$away/$name"))
        }
        (0 until 20).foreach(i => assert(server.executeJson(zbQueries(i % 3)) == warm(i % 3),
          s"bound $bound, page $i"))
        assert(server.snapshotRebuilds == 1 && server.zone.builds.get == 1, s"bound $bound")
      } finally server.close()
    }
  }

  test("a missing bucket answers [] over both faces and leaves no zone, merge or cache entry") {
    withZoneRoot() { root =>
      val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
      val http = new HttpSearchServer(server, port = 0)
      def zoneFiles(): List[String] = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        try walk.iterator().asScala.map(_.toString).toList.sorted finally walk.close()
      }
      def merges(): Long =
        (JsonMethods.parse(server.handle("""{"cmd":"metrics"}""")._1) \ "snapshotMerges").extract[Long]
      try {
        assert(keysOf(server.executeJson(SearchQuery("sb1", limit = 3))).size == 3)
        val files = zoneFiles()
        assert(merges() == 1 && server.snapshotRebuilds == 1)
        (0 until 50).foreach { i =>
          val line = server.handle(s"""{"bucket":"missing-line-$i","limit":5}""")._1
          assert(line == "[]", s"line $i: $line")
          val (code, body) = request(http.boundPort, "GET", s"/missing-http-$i?search=")
          assert(code == 200 && body == "[]", s"GET $i: $code $body")
        }
        val added = zoneFiles().diff(files)
        assert(added.isEmpty, s"${added.size} new zone paths, e.g. ${added.take(3)}")
        assert(merges() == 1 && server.snapshotRebuilds == 1)
        // the WHERE is still parsed and analysed against the snapshot's columns
        val (ce, be) = request(http.boundPort, "POST", "/search",
          """{"bucket":"missing-x","where":"NOT SQL ("}""")
        assert(ce == 400 && be.contains("\"error\""), be)
        val bad = server.handle("""{"bucket":"missing-x","where":"no_such_column = 1"}""")._1
        assert(bad.startsWith("{\"error\""), bad)
        val ok = server.handle("""{"bucket":"missing-x","where":"`content-length` > 0"}""")._1
        assert(ok == "[]", ok)
      } finally {
        http.close()
        server.close()
      }
    }
  }

  test("HTTP GET passes control characters in start_key and search through as JSON escapes") {
    val (l, s) = oddZones
    val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val http = new HttpSearchServer(server, port = 0)
    try {
      def enc(v: String): String = java.net.URLEncoder.encode(v, "UTF-8")
      def line(where: String, startKey: String): String = server.handle(
        s"""{"bucket":"ob","where":"${esc(where)}","startKey":"${esc(startKey)}","limit":1000}""")._1
      val where = "`content-length` > 100\nAND\tuserMd['x-amz-meta-color'] = 'red'"
      for ((w, k) <- Seq("" -> "tab\tkey", "" -> "ctl\u0001x", where -> "k010")) {
        val (code, body) = request(http.boundPort, "GET", s"/ob?search=${enc(w)}&start_key=${enc(k)}")
        assert(code == 200, body)
        assert(body == line(w, k) && keysOf(body).nonEmpty, (w, k))
      }
    } finally {
      http.close()
      server.close()
    }
  }

  test("HTTP: a malformed percent-escape answers 400 and the server keeps serving") {
    val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L)
    val http = new HttpSearchServer(server, port = 0)
    // raw request lines: java.net.URI (and so HttpURLConnection) refuses
    // to build these URIs on the client side
    def raw(method: String, pathAndQuery: String): String = {
      val sock = new java.net.Socket("127.0.0.1", http.boundPort)
      try {
        sock.getOutputStream.write(
          s"$method $pathAndQuery HTTP/1.1\r\nHost: x\r\nContent-Length: 0\r\nConnection: close\r\n\r\n"
            .getBytes("UTF-8"))
        new BufferedReader(new java.io.InputStreamReader(sock.getInputStream, "UTF-8")).readLine()
      } finally sock.close()
    }
    try {
      for ((m, pq) <- Seq("GET" -> "/sb1?search=%zz", "POST" -> "/invalidate?bucket=%")) {
        val status = raw(m, pq)
        assert(status.startsWith("HTTP/1.1 400 "), s"$m $pq -> $status")
      }
      val (code, body) = request(http.boundPort, "GET", "/sb1?search=&limit=1")
      assert(code == 200 && keysOf(body).size == 1, body)
    } finally {
      http.close()
      server.close()
    }
  }

  test("a bucket name stays inside its zones: ../ reads nothing beside them; / : % find their own") {
    val root = SparkTestSession.tempDir("srv-names")
    // Spark accepts a read path under `basePath` by string prefix, so a
    // directory whose name extends both zone names passes for either
    val (l, s) = (s"$root/zone", s"$root/zone-staging")
    val planted = s"$root/zone-staging-planted"
    def put(b: String, key: String) =
      s"""{"opIndex":"000000000001_0","type":"put","bucket":"${esc(b)}","key":"$key","value":{"owner-id":"o"}}"""
    IngestPipeline.batchIngest(spark, Seq(put("evil", "planted-key")).toDF("value"), planted)
    IngestPipeline.batchIngest(spark, Seq(put("ok", "k1"), put("a/b:c%d", "k2")).toDF("value"), l)
    new java.io.File(s).mkdirs()
    val server = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    try {
      // beside the zones, and another bucket of the same zone
      val escape = "x/../../zone-staging-planted/bucket=evil"
      for (b <- Seq(escape, "x/../bucket=ok")) {
        assert(server.executeJson(SearchQuery(b)) == "[]", b)
        assert(server.searcher.search(SearchQuery(b)).count() == 0, b)
      }
      val line = server.handle(s"""{"bucket":"$escape"}""")._1
      assert(line == "[]", line)
      // the sink wrote `a/b:c%d` as one escaped directory, and the search finds it
      assert(new java.io.File(s"$l/bucket=a%2Fb%3Ac%25d").isDirectory)
      assert(keysOf(server.executeJson(SearchQuery("a/b:c%d"))) == Seq("k2"))
      assert(keysOf(server.executeJson(SearchQuery("ok"))) == Seq("k1"))
    } finally server.close()
  }

  /** `search_warm`'s five predicate kinds, over `oddZones`' columns. */
  private val warmPreds = Seq("userMd['x-amz-meta-color'] = 'red'", "`content-length` > 300",
    "`content-length` BETWEEN 100 AND 700 AND userMd['x-amz-meta-color'] = 'blue'",
    "`owner-id` = 'o-1'", "")

  test("a driver-held page is a slice: byte-identical to a direct search and the persisted form, folded or cached, from 8 threads") {
    val (l, s) = oddZones
    val m = SearchMetricsSource.getOrRegister()
    val parquet = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = 0L)
    val all = keysOf(parquet.executeJson(SearchQuery("ob")))
    val cursors = Seq(None, Some("k010"), Some("\ufffd-repl"), Some("\ufffd\ud83d"),
      Some(all(all.size / 2)), Some(all.last))
    // every (WHERE, cursor, limit) under a WHERE text of its own, so its
    // first request folds and its second is served from cached positions
    val queries = for {
      (w, i) <- warmPreds.zipWithIndex
      (c, j) <- cursors.zipWithIndex
      (n, k) <- Seq(1, 7, 1000).zipWithIndex
    } yield SearchQuery("ob", if (w.isEmpty) w else w + " " * (1 + i * 100 + j * 10 + k), c, n)
    def direct(q: SearchQuery): String =
      "[" + MetadataSearch.jsonRows(parquet.searcher.search(q)).mkString(",") + "]"
    val want = queries.map(direct)
    assert(want.count(_ != "[]") > 60, want.count(_ != "[]"))
    assert(queries.map(parquet.executeJson) == want)
    val local = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    try {
      queries.zip(want).foreach { case (q, w) =>
        val (s0, f0) = (m.pageSlices.getCount, m.orderedFallbacks.getCount)
        assert(local.executeJson(q) == w, q)
        assert(m.pageSlices.getCount == s0 + (if (q.where.isEmpty) 1 else 0), s"folded: $q")
        assert(local.executeJson(q) == w, q)
        assert(m.pageSlices.getCount == s0 + (if (q.where.isEmpty) 2 else 1), s"cached: $q")
        assert(m.orderedFallbacks.getCount == f0)
      }
      assert(local.snapshotRebuilds == 1)
    } finally local.close()

    // the same requests, twice each, from 8 threads at once on a new server
    val concurrent = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val errors = new ConcurrentLinkedQueue[String]()
    try {
      val next = new AtomicInteger(0)
      val threads = (0 until 8).map { _ =>
        val th = new Thread(() =>
          try {
            var i = next.getAndIncrement()
            while (i < 2 * queries.size) {
              val k = i % queries.size
              val got = concurrent.executeJson(queries(k))
              if (got != want(k)) errors.add(s"${queries(k)} -> $got")
              i = next.getAndIncrement()
            }
          } catch { case e: Throwable => errors.add(e.toString) })
        th.start()
        th
      }
      threads.foreach(_.join(120000L))
      assert(!threads.exists(_.isAlive), "clients did not finish")
      assert(errors.isEmpty, errors.toArray.take(3).mkString("\n"))
      assert(concurrent.snapshotRebuilds == 1)
    } finally {
      concurrent.close()
      parquet.close()
    }
  }

  test("a landing append seen after the TTL makes a fresh entry: its WHERE folds again and pages the new key") {
    val (l, s) = zbZones("srv-slice-append")
    val m = SearchMetricsSource.getOrRegister()
    val server = new SearchServer(spark, l, s, cacheTtlMillis = 1L)
    val q = SearchQuery("zb", "`content-length` < 1024")
    def direct: String = "[" + MetadataSearch.jsonRows(server.searcher.search(q)).mkString(",") + "]"
    try {
      val before = server.executeJson(q)
      val s0 = m.pageSlices.getCount
      Thread.sleep(5)
      // a TTL expiry over unchanged files keeps the entry and its positions
      assert(server.executeJson(q) == before && m.pageSlices.getCount == s0 + 1)
      assert(before == direct && !keysOf(before).contains(obj(200)))
      landWave(l, 200)
      Thread.sleep(5)
      val s1 = m.pageSlices.getCount
      val after = server.executeJson(q)
      assert(server.snapshotRebuilds == 2)
      assert(m.pageSlices.getCount == s1, "the new entry served positions it never folded")
      assert(after == direct && keysOf(after).contains(obj(200)), after)
      assert(server.executeJson(q) == after && m.pageSlices.getCount == s1 + 1)
    } finally server.close()
  }

  test("pageSlices counts pages served from known positions, never a clock, random or subquery WHERE") {
    val (l, s) = oddZones
    val m = SearchMetricsSource.getOrRegister()
    val local = new SearchServer(spark, l, s, cacheTtlMillis = 600000L)
    val parquet = new SearchServer(spark, l, s, cacheTtlMillis = 600000L, localMaxBytes = 0L)
    def slices: Long =
      (JsonMethods.parse(local.handle("""{"cmd":"metrics"}""")._1) \ "pageSlices").extract[Long]
    try {
      local.executeJson(SearchQuery("ob", limit = 1))
      val s0 = slices
      assert(s0 == m.pageSlices.getCount)
      val red = "userMd['x-amz-meta-color'] = 'red'"
      local.executeJson(SearchQuery("ob", red, limit = 3))
      assert(slices == s0, "a first WHERE folds")
      val page = local.executeJson(SearchQuery("ob", red, limit = 3))
      assert(slices == s0 + 1, "a repeated WHERE is a slice")
      val cursor = local.executeJson(SearchQuery("ob", red, Some(keysOf(page).last), 3))
      assert(slices == s0 + 2, "a cursor page is a slice")
      assert(cursor == parquet.executeJson(SearchQuery("ob", red, Some(keysOf(page).last), 3)))
      for (w <- Seq("rand() < 2", "now() > TIMESTAMP'2000-01-01 00:00:00'",
          "current_timestamp() IS NOT NULL AND `content-length` > 100",
          "current_date() > DATE'2000-01-01'", "`content-length` > 100 * rand()")) {
        val n0 = slices
        val qs = Seq(SearchQuery("ob", w, limit = 5), SearchQuery("ob", w, limit = 5),
          SearchQuery("ob", w, Some("k010"), 5))
        val pages = qs.map(local.executeJson)
        assert(slices == n0, s"a page over `$w` was served from cached positions")
        if (!w.contains("* rand()")) assert(pages == qs.map(parquet.executeJson), w)
        assert(keysOf(pages.head).nonEmpty, w)
      }
      val f0 = m.orderedFallbacks.getCount
      val sub = "`content-length` > (SELECT max(id) * 50 FROM range(5))"
      Seq(SearchQuery("ob", sub, limit = 4), SearchQuery("ob", sub, Some("k003"), 4))
        .foreach(q => assert(local.executeJson(q) == parquet.executeJson(q), q))
      assert(slices == s0 + 2 && m.orderedFallbacks.getCount == f0 + 2)
      val metrics = JsonMethods.parse(local.handle("""{"cmd":"metrics"}""")._1)
      assert((metrics \ "orderedFallbacks").extract[Long] == f0 + 2)
    } finally {
      local.close()
      parquet.close()
    }
  }

  test("page sizes: a negative limit is an error, 0 answers [], a non-int HTTP limit answers 400") {
    bounds.foreach { bound =>
      val server = new SearchServer(spark, landing, staging, cacheTtlMillis = 600000L,
        localMaxBytes = bound)
      val http = new HttpSearchServer(server, port = 0)
      try {
        for (where <- Seq("", "`content-length` >= 0")) {
          val w = esc(where)
          val neg = server.handle(s"""{"bucket":"sb1","where":"$w","limit":-1}""")._1
          assert(neg.startsWith("{\"error\""), s"bound $bound: $neg")
          assert(server.handle(s"""{"bucket":"sb1","where":"$w","limit":0}""")._1 == "[]")
          assert(server.handle(
            s"""{"bucket":"sb1","where":"$w","startKey":"obj_0000000003","limit":0}""")._1 == "[]")
          assert(keysOf(server.handle(s"""{"bucket":"sb1","where":"$w","limit":2}""")._1).size == 2)
          for (bad <- Seq("4294967297", "\"abc\"", "2.5"))
            assert(server.handle(s"""{"bucket":"sb1","where":"$w","limit":$bad}""")._1
              .startsWith("{\"error\""), s"bound $bound: limit $bad")
          val search = java.net.URLEncoder.encode(where, "UTF-8")
          for (bad <- Seq("-1", "abc", "4294967297", "")) {
            val (code, body) = request(http.boundPort, "GET", s"/sb1?search=$search&limit=$bad")
            assert(code == 400 && body.startsWith("{\"error\""), s"bound $bound: limit=$bad -> $code $body")
          }
          assert(request(http.boundPort, "GET", s"/sb1?search=$search&limit=0") == ((200, "[]")))
          val (code, body) = request(http.boundPort, "GET", s"/sb1?search=$search&limit=3")
          assert(code == 200 && keysOf(body).size == 3, body)
        }
      } finally {
        http.close()
        server.close()
      }
    }
  }
}
