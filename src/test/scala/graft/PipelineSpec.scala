package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.compact.Compactor
import graft.ingest.IngestPipeline
import graft.search.{MetadataSearch, SearchQuery, SessionCache}
import graft.tools.Populator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IngestPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("file-journal stream lands parsed events partitioned by (bucket, opGroup)") {
    val in = SparkTestSession.tempDir("journal")
    val landing = SparkTestSession.tempDir("landing")
    val ckpt = SparkTestSession.tempDir("ckpt")
    Populator.journalLines(spark, "sb", 80).as[String]
      .collect().grouped(40).zipWithIndex.foreach { case (lines, i) =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$in/part-$i.json"),
          lines.mkString("\n").getBytes)
      }
    val q = IngestPipeline.fileJournalStream(spark, in, landing, ckpt,
      groupInterval = 50L)
    q.awaitTermination()
    // data-quality counters ride the write pass itself (observe API):
    // the batch's progress event carries rows_written / delete_markers
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get(IngestPipeline.ObservedMetricsName)))
    assert(observed.nonEmpty, "ingest batch must publish observed metrics")
    assert(observed.map(_.getAs[Long]("rows_written")).sum == 80)
    val landed = spark.read.parquet(landing)
    assert(landed.count() == 80)
    assert(landed.select("bucket").distinct().as[String].collect().toSeq == Seq("sb"))
    val groups = landed.select("opGroup").distinct().as[Long].collect().toSet
    assert(groups == Set(0L, 50L, 100L))
    // streaming restart with no new input is a no-op (checkpointed)
    val q2 = IngestPipeline.fileJournalStream(spark, in, landing, ckpt, groupInterval = 50L)
    q2.awaitTermination()
    assert(spark.read.parquet(landing).count() == 80)
  }

  test("maxFilesPerTrigger paces the journal into one micro-batch per file") {
    val in = SparkTestSession.tempDir("paced-journal")
    val landing = SparkTestSession.tempDir("paced-landing")
    val ckpt = SparkTestSession.tempDir("paced-ckpt")
    val lines = Populator.journalLines(spark, "pb", 10).as[String].collect()
    (0 until 3).foreach(i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/f$i.json"),
        lines.mkString("\n").getBytes))
    // the file journal's analogue of maxOffsetsPerTrigger: AvailableNow
    // drains everything, but per-batch size stays bounded — the knob
    // IngestBench uses for deterministic batch boundaries
    val q = IngestPipeline.fileJournalStream(spark, in, landing, ckpt,
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, s"expected 3 paced micro-batches, saw ${batches.length}")
    assert(batches.forall(_.numInputRows == 10))
    assert(spark.read.parquet(landing).count() == 30)
  }
}

class KafkaIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("kafka-shaped binary key/value frame parses through the shared transform") {
    val lines = Populator.journalLines(spark, "kb", 20).as[String].collect()
    // the connector's wire shape: binary key/value + topic/partition/offset
    val kafka = lines.zipWithIndex.map { case (l, i) =>
      ("k".getBytes("UTF-8"), l.getBytes("UTF-8"), "metadata-journal", 0, i.toLong)
    }.toSeq.toDF("key", "value", "topic", "partition", "offset")
    val parsed = graft.ingest.EventParser.parse(
      IngestPipeline.fromKafkaFrame(kafka), "value", "", 10L)
    assert(parsed.count() == 20)
    assert(parsed.select("bucket").distinct().as[String].collect().toSeq == Seq("kb"))
    assert(parsed.columns.contains("opGroup"))
  }

  test("streaming kafka-shaped frame lands via the shared parse + sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val landing = SparkTestSession.tempDir("k-landing")
    val ckpt = SparkTestSession.tempDir("k-ckpt")
    val in = MemoryStream[String]
    in.addData(Populator.journalLines(spark, "kb2", 30).as[String].collect().toSeq: _*)
    // shape the memory stream like the kafka connector's output frame
    val kafkaShaped = in.toDF()
      .select(lit(null).cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        lit("metadata-journal").as("topic"), lit(0).as("partition"),
        xxhash64(col("value")).as("offset"))
    val q = IngestPipeline.journalStream(
      IngestPipeline.fromKafkaFrame(kafkaShaped), landing, ckpt,
      groupInterval = 10L)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(landing)
    assert(landed.count() == 30)
    assert(landed.select("bucket").distinct().as[String].collect().toSeq == Seq("kb2"))
  }
}

class CompactorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** op-log: 3 op-groups (interval 10): keys cycle k0..k4, later ops win;
    * k1 deleted in group 2; group 3 (newest) left uncompacted. */
  private def writeLanding(dir: String): Unit = {
    def env(op: Int, typ: String, key: String) =
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"$typ","bucket":"cb","key":"$key","value":{"owner-id":"o-$op"}}"""
    val lines =
      (1 to 10).map(i => env(i, "put", s"k${i % 5}")) ++ // group 10
        Seq(env(11, "put", "k0"), env(12, "delete", "k1"), env(13, "put", "knew")) ++ // group 20
        Seq(env(21, "put", "k9")) // group 30 (newest, stays)
    IngestPipeline.batchIngest(spark, lines.toDF("value"), dir, groupInterval = 10L)
  }

  test("compacts all-but-newest groups to latest-per-key, purges landing, releases lock") {
    val landing = SparkTestSession.tempDir("c-landing")
    val staging = SparkTestSession.tempDir("c-staging")
    writeLanding(landing)
    val c = new Compactor(spark, landing, staging)
    assert(c.landingBuckets() == Seq("cb"))
    assert(c.groupsToCompact("cb", force = false) == Seq(10L, 20L))

    c.compactBucket("cb", numPartitions = 2)

    val staged = spark.read.option("basePath", staging).parquet(s"$staging/bucket=cb")
    val byKey = staged.select("key", "opIndex", "type").as[(String, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // latest opIndex wins per key; k1's latest event is its group-20
    // tombstone, which stays staged so it keeps shadowing older puts
    assert(byKey("k1") == ("%012d_0".format(12), "delete"))
    assert(byKey("k0")._1 == "%012d_0".format(11))
    assert(byKey("knew")._1 == "%012d_0".format(13))
    assert(byKey.keySet == Set("k0", "k1", "k2", "k3", "k4", "knew"))
    // compacted groups purged from landing; newest survives
    val left = new java.io.File(s"$landing/bucket=cb").list().toSeq.filter(_.startsWith("opGroup="))
    assert(left == Seq("opGroup=30"))
    // lock released
    assert(!new java.io.File(s"$staging/_merging").exists())
  }

  test("a delete compacted after its put stays deleted") {
    val landing = SparkTestSession.tempDir("c5-landing")
    val staging = SparkTestSession.tempDir("c5-staging")
    def env(op: Int, typ: String, key: String) =
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"$typ","bucket":"cb","key":"$key","value":{"owner-id":"o-$op"}}"""
    val c = new Compactor(spark, landing, staging)
    val search = new MetadataSearch(spark, landing, staging)
    def keys() = search.search(SearchQuery("cb")).select("key").as[String].collect().toSeq
    IngestPipeline.batchIngest(spark,
      Seq(env(1, "put", "k"), env(2, "put", "other")).toDF("value"), landing, groupInterval = 10L)
    c.compactBucket("cb", 1, force = true) // the put of k moves to staging
    IngestPipeline.batchIngest(spark,
      Seq(env(11, "delete", "k")).toDF("value"), landing, groupInterval = 10L)
    assert(keys() == Seq("other"))
    c.compactBucket("cb", 1, force = true) // the delete of k moves to staging
    assert(keys() == Seq("other"), "compaction resurrected a deleted key")
  }

  test("a resumed ingest stream survives compaction past the sink's log compaction") {
    val journal = SparkTestSession.tempDir("c6-journal")
    val landing = SparkTestSession.tempDir("c6-landing")
    val staging = SparkTestSession.tempDir("c6-staging")
    val ckpt = SparkTestSession.tempDir("c6-ckpt")
    // 12 journal files of 5 ops each; every third op deletes a key put
    // two files earlier — the model is the latest op per key
    val ops = (1 to 60).map { i =>
      if (i % 3 == 0 && i > 10) (i, "delete", s"k${i - 10}") else (i, "put", s"k$i")
    }
    ops.grouped(5).zipWithIndex.foreach { case (chunk, f) =>
      val lines = chunk.map { case (op, typ, key) =>
        s"""{"opIndex":"${"%012d".format(op)}_0","type":"$typ","bucket":"rb","key":"$key","value":{"owner-id":"o-$op"}}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$journal/part-$f%03d.json"),
        lines.mkString("\n").getBytes)
    }
    // files 4-12 are held back until the compaction has run
    val holdDir = SparkTestSession.tempDir("c6-held")
    val held = new java.io.File(journal).listFiles().sortBy(_.getName).drop(3).map { f =>
      val to = new java.io.File(s"$holdDir/${f.getName}")
      java.nio.file.Files.move(f.toPath, to.toPath); to
    }
    def ingest(): Int = {
      val q = IngestPipeline.fileJournalStream(spark, journal, landing, ckpt,
        groupInterval = 10L, sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    assert(ingest() == 3)
    val c = new Compactor(spark, landing, staging)
    assert(c.compactAll(1).isEmpty)
    // the same checkpoint resumes at batch 3 and runs through the file
    // sink's log compaction (every 10th batch), which needs batches 0-2
    held.foreach(f => java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$journal/${f.getName}")))
    assert(ingest() == 9)
    assert(c.compactAll(1).isEmpty)
    val model = ops.groupBy(_._3).values.map(_.maxBy(_._1))
      .filter(_._2 == "put").map(_._3).toSeq.sorted
    val got = new MetadataSearch(spark, landing, staging)
      .search(SearchQuery("rb", limit = 1000)).select("key").as[String].collect().toSeq
    assert(got == model)
  }

  test("a held lock aborts compaction") {
    val landing = SparkTestSession.tempDir("c2-landing")
    val staging = SparkTestSession.tempDir("c2-staging")
    writeLanding(landing)
    new java.io.File(staging).mkdirs()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$staging/_merging"))
    val c = new Compactor(spark, landing, staging)
    intercept[IllegalStateException](c.compactBucket("cb", 1))
  }

  test("purge tolerance lets a reader holding the pre-compaction file list finish") {
    val landing = SparkTestSession.tempDir("c3-landing")
    val staging = SparkTestSession.tempDir("c3-staging")
    writeLanding(landing)
    // reader plans (and lists files for) the soon-to-be-compacted groups
    val preListed = spark.read.parquet(s"$landing/bucket=cb/opGroup=10")
    assert(preListed.count() == 10)
    val c = new Compactor(spark, landing, staging, purgeToleranceMs = 4000L)
    @volatile var err: Option[Throwable] = None
    val t = new Thread(() =>
      try c.compactBucket("cb", numPartitions = 1)
      catch { case e: Throwable => err = Some(e) })
    t.start()
    // wait until compaction has appended to staging (past phase one)...
    val deadline = System.currentTimeMillis() + 30000
    def stagedFiles = {
      val d = new java.io.File(s"$staging/bucket=cb")
      if (d.exists()) d.listFiles().length else 0
    }
    while (stagedFiles == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(stagedFiles > 0, "compaction never reached the staging append")
    // ...then the reader's pre-listed scan must still succeed: the landing
    // files survive through the tolerance window
    assert(preListed.count() == 10)
    t.join(60000)
    assert(err.isEmpty, s"compaction failed: $err")
    // after the window the compacted groups are purged, newest kept
    val left = new java.io.File(s"$landing/bucket=cb").list().toSeq.filter(_.startsWith("opGroup="))
    assert(left == Seq("opGroup=30"))
  }

  test("compactAll isolates one bucket's failure and compacts the rest") {
    val landing = SparkTestSession.tempDir("c4-landing")
    val staging = SparkTestSession.tempDir("c4-staging")
    writeLanding(landing)
    // a bucket with a malformed op-group directory fails its compaction
    new java.io.File(s"$landing/bucket=badbucket/opGroup=notanumber").mkdirs()
    val c = new Compactor(spark, landing, staging)
    val failures = c.compactAll(numPartitions = 1)
    assert(failures.keySet == Set("badbucket"))
    // the healthy bucket still compacted
    val staged = spark.read.option("basePath", staging).parquet(s"$staging/bucket=cb")
    assert(staged.count() > 0)
    // lock released despite the failure
    assert(!new java.io.File(s"$staging/_merging").exists())
  }
}

class MetadataSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def env(op: Int, typ: String, key: String, extra: String = "") =
    s"""{"opIndex":"${"%012d".format(op)}_0","type":"$typ","bucket":"mb","key":"$key","value":{"owner-id":"o-$op","content-length":${op * 10}$extra}}"""

  test("search merges landing over staging, filters, paginates, hides versioned keys") {
    val landing = SparkTestSession.tempDir("s-landing")
    val staging = SparkTestSession.tempDir("s-staging")
    // staging: older ops for a..e ; landing: newer op for c (delete) + f + versioned key
    IngestPipeline.batchIngest(spark,
      (1 to 5).map(i => env(i, "put", s"obj-${('a' + i - 1).toChar}")).toDF("value"),
      staging, groupInterval = 10L)
    IngestPipeline.batchIngest(spark,
      Seq(env(11, "delete", "obj-c"),
        env(12, "put", "obj-f"),
        env(13, "put", "obj-a\u0000v1"), // internal versioned row
        env(14, "put", "obj-a")).toDF("value"),
      landing, groupInterval = 10L)

    val search = new MetadataSearch(spark, landing, staging)

    val all = search.search(SearchQuery("mb")).select("key").as[String].collect().toSeq
    assert(all == Seq("obj-a", "obj-b", "obj-d", "obj-e", "obj-f"))

    // latest event wins across zones: obj-a was rewritten by op 14
    val a = search.search(SearchQuery("mb", where = "key = 'obj-a'"))
      .select("`content-length`").as[Int].collect().toSeq
    assert(a == Seq(140))

    val filtered = search.search(SearchQuery("mb", where = "`content-length` > 100"))
      .select("key").as[String].collect().toSeq
    assert(filtered == Seq("obj-a", "obj-f"))

    val page2 = search.search(SearchQuery("mb", startKey = Some("obj-b"), limit = 2))
      .select("key").as[String].collect().toSeq
    assert(page2 == Seq("obj-d", "obj-e"))

    // result projection is the fixed 8-column surface
    assert(search.search(SearchQuery("mb")).columns.toSeq ==
      graft.model.ObjectEvent.resultColumns)

    // JSON rendering round-trips
    val json = search.searchJson(SearchQuery("mb", limit = 1))
    assert(json.length == 1 && json.head.contains("\"key\":\"obj-a\""))
  }

  test("mixed-schema zones merge: a zone written before a payload field existed still searches") {
    val landing = SparkTestSession.tempDir("ev-landing")
    val staging = SparkTestSession.tempDir("ev-staging")
    // staging carries the CURRENT schema
    IngestPipeline.batchIngest(spark,
      Seq(env(1, "put", "new-obj")).toDF("value"), staging, groupInterval = 10L)
    // landing simulates a PRE-MIGRATION writer: its parquet predates the
    // `tags` and `x-amz-storage-class` payload fields entirely
    val old = graft.ingest.EventParser.parse(
        Seq(env(11, "put", "old-obj")).toDF("value"), "value", "", 10L)
      .withColumn("message",
        col("message").dropFields("tags", "`x-amz-storage-class`"))
    old.write.partitionBy("bucket", "opGroup").mode("append").parquet(landing)
    // the pinned-schema zone read pads absent columns with nulls, so the
    // union never hits a schema mismatch (the design counterpart of the
    // reference's fillNonExistingColumns)
    val search = new MetadataSearch(spark, landing, staging)
    val rows = search.search(SearchQuery("mb"))
    assert(rows.select("key").as[String].collect().toSeq == Seq("new-obj", "old-obj"))
    val oldRow = rows.filter(col("key") === "old-obj")
      .select(col("`x-amz-storage-class`")).collect().head
    assert(oldRow.isNullAt(0), "missing-on-disk payload field must read as NULL")
  }
}

class SessionCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("caches within TTL, rebuilds after expiry, invalidate forces rebuild") {
    var builds = 0
    def build = { builds += 1; Seq((1, "x")).toDF("id", "v") }
    val cache = new SessionCache(ttlMillis = 60000, localMaxBytes = 0L)
    val d1 = cache.get("b1")(build)
    val d2 = cache.get("b1")(build)
    assert(builds == 1 && (d1 eq d2))
    assert(d1.storageLevel.useMemory, "published snapshot must be persisted")

    cache.invalidate("b1")
    cache.get("b1")(build)
    assert(builds == 2)

    val fast = new SessionCache(ttlMillis = 1, localMaxBytes = 0L)
    fast.get("b2")(build)
    Thread.sleep(10)
    fast.get("b2")(build)
    assert(builds == 4)
    fast.clear()
  }

  test("distinct buckets cache independently") {
    var builds = 0
    def build = { builds += 1; Seq((1, "x")).toDF("id", "v") }
    val cache = new SessionCache(ttlMillis = 60000, localMaxBytes = 0L)
    cache.get("a")(build); cache.get("b")(build); cache.get("a")(build)
    assert(builds == 2)
    cache.clear()
  }

  test("a rebuild of one bucket never serializes gets on another bucket") {
    val cache = new SessionCache(ttlMillis = 60000, localMaxBytes = 0L)
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    @volatile var aErr: Option[Throwable] = None
    val tA = new Thread(() =>
      try {
        cache.get("slow-bucket") {
          aStarted.countDown()
          // hold slow-bucket's rebuild until the main thread proves
          // other buckets stay responsive
          aRelease.await()
          Seq((1, "slow")).toDF("id", "v")
        }
        ()
      } catch { case e: Throwable => aErr = Some(e) })
    tA.start()
    assert(aStarted.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "slow bucket's build never started")
    // with the build running under slow-bucket's per-bucket lock, another
    // bucket's get must complete promptly (the old compute()-based form
    // could block unrelated buckets on the same hash bin)
    val t0 = System.nanoTime()
    val fast = cache.get("fast-bucket")(Seq((2, "fast")).toDF("id", "v"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(fast.count() == 1)
    assert(elapsedMs < 15000, s"fast bucket blocked for ${elapsedMs}ms behind slow rebuild")
    aRelease.countDown()
    tA.join(30000)
    assert(aErr.isEmpty, s"slow bucket rebuild failed: $aErr")
    assert(cache.get("slow-bucket")(fail("must be cached")).count() == 1)
    cache.clear()
  }

  test("a superseded persisted snapshot is unpersisted at swap; a page planned before still collects; clear unpersists everything") {
    val dir = SparkTestSession.tempDir("sc-swap")
    Seq("v1" -> (1, "x"), "v2" -> (2, "y"), "v3" -> (3, "z")).foreach { case (v, row) =>
      Seq(row).toDF("id", "v").write.parquet(s"$dir/$v")
    }
    def read(v: String) = spark.read.parquet(s"$dir/$v")
    val ttlMs = 3000L
    def expire(): Unit = Thread.sleep(ttlMs + 100)
    val cache = new SessionCache(ttlMillis = ttlMs, localMaxBytes = 0L)
    try {
      val d1 = cache.get("g")(read("v1"))
      assert(d1.storageLevel.useMemory)
      // a page planned over the snapshot before the swap, as a request
      // still running on it would be
      val page = d1.filter(col("id") > 0)
      assert(page.queryExecution.executedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]))
      // a TTL expiry over new files swaps in a new snapshot and unpersists
      // the old one at once
      expire()
      val v2 = read("v2")
      val d2 = cache.get("g")(v2)
      assert(cache.rebuilds == 2 && (cache.get("g")(fail("cached")) eq d2))
      assert(!d1.storageLevel.useMemory, "superseded snapshot still persisted")
      assert(page.as[(Int, String)].collect().toSeq == Seq((1, "x")),
        "a page planned before the swap re-reads its files")
      // a TTL expiry whose build returns the entry's own frame keeps the entry
      expire()
      assert((cache.get("g")(v2) eq d2) && cache.rebuilds == 2)
      assert(d2.storageLevel.useMemory)

      // invalidate unpersists now; clear() unpersists everything
      cache.invalidate("g")
      assert(!d2.storageLevel.useMemory)
      val d3 = cache.get("g")(read("v3"))
      val d4 = cache.get("h")(read("v1"))
      assert(d3.storageLevel.useMemory && d4.storageLevel.useMemory)
      // another cache over the same files holds a cached relation of its
      // own: Spark keys its cache by plan, and this one's unpersist must
      // not evict the other's
      val other = new SessionCache(ttlMillis = 600000, localMaxBytes = 0L)
      try {
        val o4 = other.get("h")(read("v1"))
        cache.clear()
        assert(!d3.storageLevel.useMemory && !d4.storageLevel.useMemory)
        assert(o4.storageLevel.useMemory, "one cache's clear() evicted another's snapshot")
      } finally other.close()
    } finally cache.close()
  }

  test("8 threads across an invalidate build exactly once per (bucket, invalidation)") {
    val cache = new SessionCache(ttlMillis = 600000, localMaxBytes = 0L)
    // a bucket's generation moves on each invalidate; a build records the
    // generation it ran in
    val gens = Map("a" -> new AtomicInteger(0), "b" -> new AtomicInteger(0),
      "c" -> new AtomicInteger(0))
    def invalidate(b: String): Unit = { gens(b).incrementAndGet(); cache.invalidate(b) }
    val builds = new java.util.concurrent.ConcurrentHashMap[(String, Int), Int]()
    def build(b: String) = {
      builds.merge((b, gens(b).get), 1, _ + _)
      Thread.sleep(30) // widen the window a queued reader could race into
      Seq((b, gens(b).get)).toDF("bucket", "gen")
    }
    val calls = new AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val threads = (0 until 8).map { t =>
        val th = new Thread(() =>
          try (0 until 60).foreach { i =>
            val b = Seq("a", "b", "c")((t + i) % 3)
            val df = cache.get(b)(build(b))
            assert(df.as[(String, Int)].head()._1 == b)
            if (calls.incrementAndGet() == 120) invalidate("b")
          } catch { case e: Throwable => errors.add(e) })
        th.start()
        th
      }
      threads.foreach(_.join(120000L))
      assert(errors.isEmpty, errors)
      assert(builds.get(("b", 1)) == 1)
      assert(builds.values.stream.allMatch(_ == 1) && builds.size == 4, builds)
      assert(cache.rebuilds == 4)

      // a request that queued on the bucket lock behind a rebuild is served
      // that rebuild's snapshot: the miss re-checks freshness under the lock
      invalidate("b")
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val first = new AtomicReference[DataFrame]()
      val queued = new AtomicReference[DataFrame]()
      val slow = new Thread(() => first.set(cache.get("b") {
        started.countDown(); release.await(); build("b")
      }))
      slow.start()
      assert(started.await(30, TimeUnit.SECONDS))
      val waiter = new Thread(() =>
        queued.set(cache.get("b")(fail("a queued request rebuilt the snapshot"))))
      waiter.start()
      val deadline = System.currentTimeMillis() + 30000L
      while (waiter.getState != Thread.State.BLOCKED && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(waiter.getState == Thread.State.BLOCKED, "the second request never queued")
      release.countDown()
      Seq(slow, waiter).foreach(_.join(60000L))
      assert(first.get != null && (queued.get eq first.get))
      assert(builds.get(("b", 2)) == 1 && cache.rebuilds == 5)
    } finally cache.close()
  }
}

class SearchMetricsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("materialized searches are metered in the graft.search source") {
    val src = org.apache.spark.graft.metrics.SearchMetricsSource.getOrRegister()
    val c0 = src.searchCount.getCount
    val r0 = src.rowsReturned.getCount
    val l0 = src.latencyMs.getCount
    val landing = SparkTestSession.tempDir("m-landing")
    val staging = SparkTestSession.tempDir("m-staging")
    def env(op: Int, key: String) =
      s"""{"opIndex":"${"%012d".format(op)}_0","type":"put","bucket":"metb","key":"$key","value":{"owner-id":"o"}}"""
    IngestPipeline.batchIngest(spark,
      (1 to 5).map(i => env(i, s"k$i")).toDF("value"), landing, groupInterval = 10L)
    val search = new MetadataSearch(spark, landing, staging)
    val rows = search.searchJson(SearchQuery("metb", limit = 3))
    assert(rows.length == 3)
    assert(src.searchCount.getCount == c0 + 1)
    assert(src.rowsReturned.getCount == r0 + 3)
    assert(src.latencyMs.getCount == l0 + 1)
    assert(src.latencyMs.getSnapshot.getMax >= 0)
  }
}
