package graft

import graft.tools.{CompactorTool, Populator}
import org.scalatest.funsuite.AnyFunSuite

/** File-driven deployment surface: HOCON-subset config loading and the
  * cron-facing compactor CLI (reference parity:
  * CluesoConfig.scala:1-60 file-driven config;
  * MetadataTableCompactorTool.scala:1-37 conf + partitions + optional
  * bucket/force CLI).
  */
class ConfigToolsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeConf(landing: String, staging: String,
                        extra: String = ""): String = {
    val f = SparkTestSession.tempFile("graft", ".conf")
    java.nio.file.Files.writeString(f,
      s"""# graft deployment config
        |graft {
        |  landing.dir = "$landing"   // zone dirs carry slashes -> quoted
        |  staging.dir = "$staging"
        |  group.interval: 50
        |  cache.ttl.ms = 2m
        |  purge.tolerance.ms = 0
        |  kafka {
        |    bootstrap = "broker-1:9092,broker-2:9092"
        |    topic = metadata-journal
        |  }
        |$extra
        |}
        |""".stripMargin)
    f.toString
  }

  test("fromFile round-trips a HOCON deployment config") {
    val conf = GraftConfig.fromFile(writeConf("/zones/landing", "/zones/staging"))
    assert(conf.landingDir == "/zones/landing")
    assert(conf.stagingDir == "/zones/staging")
    // unset checkpoint dir falls back beside the landing zone
    assert(conf.checkpointDir == "/zones/landing/_checkpoints")
    assert(conf.groupInterval == 50L)
    assert(conf.cacheTtlMillis == 120000L, "duration suffix must normalize to ms")
    assert(conf.purgeToleranceMs == 0L)
    // kafka block selects the streaming source (IngestPipeline switches
    // on kafkaBootstrap.nonEmpty); both forms of the binding must carry
    assert(conf.kafkaBootstrap == "broker-1:9092,broker-2:9092")
    assert(conf.kafkaTopic == "metadata-journal")
  }

  test("the committed example config parses with documented defaults") {
    val conf = GraftConfig.fromFile("conf/graft.conf.example")
    assert(conf.landingDir == "/zones/landing")
    assert(conf.stagingDir == "/zones/staging")
    assert(conf.checkpointDir == "/zones/landing/_checkpoints")
    assert(conf.groupInterval == 10000L)
    assert(conf.cacheTtlMillis == 60000L)
    assert(conf.purgeToleranceMs == 10000L)
    assert(conf.kafkaBootstrap.isEmpty, "kafka stays commented out")
    assert(conf.maxSearchScanBytes == 0L)
  }

  test("fromFile without a kafka block selects the file journal source") {
    val f = SparkTestSession.tempFile("graft", ".conf")
    java.nio.file.Files.writeString(f,
      """graft.landing.dir = /l
        |graft.staging.dir = /s
        |""".stripMargin)
    val conf = GraftConfig.fromFile(f.toString)
    assert(conf.kafkaBootstrap.isEmpty && conf.kafkaTopic.isEmpty)
    assert(conf.groupInterval == 10000L, "defaults apply for unset keys")
  }

  test("fromFile rejects unbalanced blocks and junk lines") {
    val bad = SparkTestSession.tempFile("graft", ".conf")
    java.nio.file.Files.writeString(bad, "graft {\n landing.dir = /l\n")
    intercept[IllegalArgumentException](GraftConfig.fromFile(bad.toString))
    val junk = SparkTestSession.tempFile("graft", ".conf")
    java.nio.file.Files.writeString(junk, "no separator here\n")
    intercept[IllegalArgumentException](GraftConfig.fromFile(junk.toString))
  }

  test("unquoted URI values fail loudly instead of comment-truncating") {
    val f = SparkTestSession.tempFile("graft", ".conf")
    java.nio.file.Files.writeString(f,
      "graft.landing.dir = s3a://zones/landing\ngraft.staging.dir = /s\n")
    val e = intercept[IllegalArgumentException](GraftConfig.fromFile(f.toString))
    assert(e.getMessage.contains("quote URIs"))
  }

  test("fromFile rejects a graft.* key it does not read, naming the key") {
    // session settings are spark.* properties; a graft.* copy of one in
    // the conf file would otherwise be dropped without a word
    Seq(
      """  s3 {
        |    endpoint = "object.example.internal:8000"
        |  }
        |""".stripMargin -> "graft.s3.endpoint",
      "  derived.dir = \"/zones/derived\"\n" -> "graft.derived.dir",
      "  refine.rounds = 2\n" -> "graft.refine.rounds"
    ).foreach { case (extra, key) =>
      val e = intercept[IllegalArgumentException](
        GraftConfig.fromFile(writeConf("/zones/landing", "/zones/staging", extra)))
      assert(e.getMessage.contains(s"unknown config key $key") &&
        e.getMessage.contains("-Dspark.<key> in GRAFT_JAVA_OPTS"), e.getMessage)
    }
  }

  test("a properties file of spark.* keys plus the graft zone dirs parses, s3a zones included") {
    // a spark-submit --properties-file carries Spark's keys beside graft's
    val f = SparkTestSession.tempFile("graft", ".properties")
    java.nio.file.Files.writeString(f,
      """spark.hadoop.fs.s3a.endpoint = object.example.internal:8000
        |spark.hadoop.fs.s3a.path.style.access = true
        |spark.graft.derived.dir = "s3a://md-bucket/derived"
        |spark.graft.refine.rounds = 2
        |graft.landing.dir = "s3a://md-bucket/zones/landing"
        |graft.staging.dir = "s3a://md-bucket/zones/staging"
        |""".stripMargin)
    val conf = GraftConfig.fromFile(f.toString)
    assert(conf.landingDir == "s3a://md-bucket/zones/landing",
      "zone paths must accept s3a:// URIs")
    assert(conf.stagingDir == "s3a://md-bucket/zones/staging")
    // the derived-zone root keeps its scheme (the path is only resolved,
    // never opened)
    spark.conf.set("spark.graft.derived.dir", "s3a://md-bucket/derived")
    try assert(new org.apache.hadoop.fs.Path(
      graft.ops.DerivedZone.root(spark), "x").toUri.getScheme == "s3a")
    finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("scratch budget: explicit conf wins; unset local master derives from free disk") {
    // explicit session conf short-circuits everything
    spark.conf.set(GraftConfig.ScratchBytesConf, "12345")
    try assert(GraftConfig.scratchBytes(spark) == 12345L)
    finally spark.conf.unset(GraftConfig.ScratchBytesConf)
    // the local-master fallback is half the shuffle dir's free space —
    // nonzero on any live machine, so an unconfigured single-host run of
    // the disk-bounded pair build shards instead of dying on ENOSPC
    // (the round-11 failure mode)
    val fb = GraftConfig.localScratchFallback(spark)
    assert(fb > 0L, "local master must derive a nonzero scratch budget")
    // and the unset path agrees with the fallback unless the env carries
    // a budget (bench chains export SPARK_GRAFT_SCRATCH_BYTES)
    if (!sys.env.contains("SPARK_GRAFT_SCRATCH_BYTES"))
      assert(GraftConfig.scratchBytes(spark) > 0L)
  }

  test("CompactorTool rejects malformed numeric args with the usage code") {
    assert(graft.tools.CompactorTool.run(Array("/no/conf", "abc")) == 2)
    assert(graft.tools.CompactorTool.run(Array("/no/conf", "4", "b1", "maybe")) == 2)
  }

  test("CompactorTool compacts every bucket end-to-end through main's body") {
    val landing = SparkTestSession.tempDir("ctool-landing")
    val staging = SparkTestSession.tempDir("ctool-staging")
    Populator.populateLanding(spark, landing, "b1", 120, groupInterval = 50L)
    Populator.populateLanding(spark, landing, "b2", 120, groupInterval = 50L)
    val conf = writeConf(landing, staging)

    assert(CompactorTool.run(Array(conf, "2")) == 0)

    // closed groups (0/50/100) moved to staging; newest (150) stays
    Seq("b1", "b2").foreach { b =>
      val left = new java.io.File(s"$landing/bucket=$b").list().toSeq
        .filter(_.startsWith("opGroup="))
      assert(left == Seq("opGroup=150"), s"$b landing not purged: $left")
      assert(spark.read.parquet(s"$staging/bucket=$b").count() > 0)
    }
    // compacted rows are the latest-per-key of the closed groups
    val total = spark.read.option("basePath", staging).parquet(s"$staging/bucket=b1").count() +
      spark.read.option("basePath", landing).parquet(s"$landing/bucket=b1").count()
    assert(total == 120L, "compaction must not lose or duplicate keys (all PUTs unique)")
  }

  test("IngestTool validates its CLI contract before touching Spark") {
    // no args at all
    intercept[IllegalArgumentException](graft.tools.IngestTool.main(Array.empty))
    // a file-journal config (no kafka.bootstrap) REQUIRES a journal dir —
    // the stream body itself (Kafka/file selection, parse, sink) is
    // GraftEngine.startIngest, covered end-to-end by GraftEngineSpec
    val f = SparkTestSession.tempFile("graft-nokafka", ".conf")
    java.nio.file.Files.writeString(f,
      """graft {
        |  landing.dir = "/zones/landing"
        |  staging.dir = "/zones/staging"
        |}
        |""".stripMargin)
    intercept[IllegalArgumentException](
      graft.tools.IngestTool.main(Array(f.toString)))
  }

  test("CurateTool validates its CLI contract before touching Spark") {
    // the pipeline + audit bodies are CurationPipelineSpec's end-to-end
    // coverage; the tool contract here is the arg gate (IngestTool rule:
    // fail fast, never build a session on bad usage)
    intercept[IllegalArgumentException](graft.tools.CurateTool.main(Array.empty))
  }

  test("CompactorTool reports failures per bucket and exits non-zero") {
    val landing = SparkTestSession.tempDir("ctool-fail-landing")
    val staging = SparkTestSession.tempDir("ctool-fail-staging")
    Populator.populateLanding(spark, landing, "bx", 120, groupInterval = 50L)
    // hold the compaction lock -> every bucket's compaction must fail
    new java.io.File(staging).mkdirs()
    val lock = new java.io.File(staging, "_merging")
    assert(lock.createNewFile())
    val conf = writeConf(landing, staging)

    val err = new java.io.ByteArrayOutputStream()
    val code = Console.withErr(new java.io.PrintStream(err)) {
      CompactorTool.run(Array(conf, "2"))
    }
    assert(code == 1, "a failed bucket must surface as a non-zero exit")
    // usage errors exit 2 without touching Spark
    assert(CompactorTool.run(Array.empty) == 2)
  }

  test("metrics.properties.example names real Spark sinks and parses cleanly") {
    // the example ships all sinks commented out (a deployment keeps one);
    // uncomment every sink line and the result must be a valid Spark
    // metrics config whose sink classes all resolve on this classpath
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("conf/metrics.properties.example"))
    val uncommented = new java.util.Properties()
    val text = new StringBuilder
    lines.forEach { l =>
      text.append(if (l.startsWith("#*.")) l.substring(1) else l).append('\n')
    }
    uncommented.load(new java.io.StringReader(text.toString))
    val sinkClasses = uncommented.stringPropertyNames().toArray(Array.empty[String])
      .filter(_.endsWith(".class")).map(uncommented.getProperty)
    assert(sinkClasses.toSet == Set(
      "org.apache.spark.metrics.sink.GraphiteSink",
      "org.apache.spark.metrics.sink.PrometheusServlet",
      "org.apache.spark.metrics.sink.CsvSink",
      "org.apache.spark.metrics.sink.JmxSink"),
      s"example must document the four stock sinks, got ${sinkClasses.toSet}")
    sinkClasses.foreach(Class.forName(_)) // resolves or throws
    // the graphite example filters to the graft source: regex must compile
    // and match the metric names the MetricsSystem composes for it
    val re = uncommented.getProperty("*.sink.graphite.regex").r
    assert(re.findFirstIn("app-1.driver.graft.search.searchCount").isDefined)
    assert(re.findFirstIn("app-1.driver.jvm.heap.used").isEmpty)
  }

  test("graft.search counters export through a configured Spark sink") {
    // end-to-end metrics egress: the registered source's registry, a REAL
    // org.apache.spark.metrics.sink.CsvSink configured from properties
    // (exactly what metrics.properties wires at deployment), one metered
    // search, one report() -> counter CSVs on disk with the counted value
    val src = org.apache.spark.graft.metrics.SearchMetricsSource.getOrRegister()
    val before = src.searchCount.getCount
    val landing = SparkTestSession.tempDir("msink-landing")
    val staging = SparkTestSession.tempDir("msink-staging")
    Populator.populateLanding(spark, landing, "msinkb", 20, groupInterval = 10L)
    val search = new graft.search.MetadataSearch(spark, landing, staging)
    assert(search.searchJson(graft.search.SearchQuery("msinkb", limit = 5)).length == 5)

    val outDir = SparkTestSession.tempDir("msink-csv")
    val props = new java.util.Properties()
    props.setProperty("directory", outDir)
    props.setProperty("period", "600") // report() drives the flush, not the timer
    // CsvSink is private[spark] at the Scala level (public bytecode), so
    // construct the real sink reflectively — same instantiation path
    // MetricsSystem itself uses on the `.class` property
    val cls = Class.forName("org.apache.spark.metrics.sink.CsvSink")
    val sink = cls.getConstructor(classOf[java.util.Properties],
        classOf[com.codahale.metrics.MetricRegistry])
      .newInstance(props, src.metricRegistry)
    cls.getMethod("start").invoke(sink)
    cls.getMethod("report").invoke(sink)
    cls.getMethod("stop").invoke(sink)

    val counterCsv = new java.io.File(outDir, "searchCount.csv")
    assert(counterCsv.exists(), s"CsvSink must write searchCount.csv to $outDir")
    val last = java.nio.file.Files.readAllLines(counterCsv.toPath)
    assert(last.size >= 2, "header + at least one sample")
    val exported = last.get(last.size - 1).split(",")(1).trim.toLong
    assert(exported >= before + 1,
      s"exported counter $exported must include the metered search (pre-count $before)")
    assert(new java.io.File(outDir, "latencyMs.csv").exists(),
      "the latency histogram must export too")
  }
}
