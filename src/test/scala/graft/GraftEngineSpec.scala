package graft

import graft.search.SearchQuery
import graft.tools.Populator
import org.apache.spark.graft.metrics.SearchMetricsSource
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

class GraftConfigSpec extends AnyFunSuite {
  test("loads from properties with defaults") {
    val p = new java.util.Properties()
    p.setProperty("graft.landing.dir", "/l")
    p.setProperty("graft.staging.dir", "/s")
    val c = GraftConfig.fromProperties(p)
    assert(c == GraftConfig("/l", "/s", "/l/_checkpoints", 10000L, 60000L, ""))
    p.setProperty("graft.group.interval", "500")
    p.setProperty("graft.exclude.bucket", "own")
    assert(GraftConfig.fromProperties(p).groupInterval == 500L)
    assert(GraftConfig.fromProperties(p).excludeBucket == "own")
    p.setProperty("graft.purge.tolerance.ms", "2500")
    p.setProperty("graft.kafka.bootstrap", "broker:9092")
    p.setProperty("graft.kafka.topic", "metadata-journal")
    val c2 = GraftConfig.fromProperties(p)
    assert(c2.purgeToleranceMs == 2500L)
    assert(c2.kafkaBootstrap == "broker:9092" && c2.kafkaTopic == "metadata-journal")
    intercept[IllegalArgumentException](
      GraftConfig.fromProperties(new java.util.Properties()))
    intercept[IllegalArgumentException](
      GraftConfig("/l", "/s", "/c", purgeToleranceMs = -1L))
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side union-find reference implementation. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    graft.analytics.Dedup.connectedComponents(pairs.toDF("a_id", "b_id"))
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap

  test("a chain longer than the old 20-round cap converges to one component") {
    // diameter 30: every round of min-label propagation moves the label one
    // hop, so this genuinely needs >20 rounds — the old silent cap would
    // have returned a wrong (partially propagated) labelling
    val chain = (0L until 30L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.size == 31)
    assert(got.values.toSet == Set(0L), "all chain vertices must share label 0")
  }

  test("random graphs match driver-side union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val pairs = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      assert(run(pairs) == unionFind(pairs), s"trial $trial diverged")
    }
  }

  test("empty edge list returns an empty labelled frame with the right schema") {
    val out = graft.analytics.Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    assert(out.columns.toSeq == Seq("doc_id", "cluster_id", "is_keeper"))
    assert(out.count() == 0)
  }

  test("keeper flag marks exactly the label holder of each component") {
    val labelled = graft.analytics.Dedup.connectedComponents(
      Seq((5L, 9L), (9L, 7L), (1L, 2L)).toDF("a_id", "b_id"))
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(labelled.toSeq == Seq((1L, 1L, 1), (2L, 1L, 0), (5L, 5L, 1),
      (7L, 5L, 0), (9L, 5L, 0)))
  }
}

class GraftEngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ingest -> search -> cached search -> compact -> search lifecycle") {
    val cfg = GraftConfig(
      landingDir = SparkTestSession.tempDir("e-landing"),
      stagingDir = SparkTestSession.tempDir("e-staging"),
      checkpointDir = SparkTestSession.tempDir("e-ckpt"),
      groupInterval = 40L, cacheTtlMillis = 60000L)
    val engine = new GraftEngine(spark, cfg)

    // journal: 100 synthetic puts across 3 op-groups
    val in = SparkTestSession.tempDir("e-journal")
    val lines = Populator.journalLines(spark, "eb", 100).as[String].collect()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/j.json"),
      lines.mkString("\n").getBytes)
    engine.startIngest(in).awaitTermination()

    val q = SearchQuery("eb", """ userMd.`x-amz-meta-food` = 'pizza' """, None, 1000)
    val direct = engine.search(q).select("key").as[String].collect().toSeq
    assert(direct.nonEmpty && direct == direct.sorted)

    val cached1 = engine.searchCached(q).select("key").as[String].collect().toSeq
    assert(cached1 == direct)
    // cached path returns identical pages for a narrower query too
    val page = engine.searchCached(q.copy(limit = 3)).select("key").as[String].collect().toSeq
    assert(page == direct.take(3))

    engine.compact(numPartitions = 1)
    val afterCompact = engine.search(q).select("key").as[String].collect().toSeq
    assert(afterCompact == direct, "compaction must not change search results")
    // closed groups moved: landing keeps only the newest op-group
    val left = new java.io.File(s"${cfg.landingDir}/bucket=eb").list().toSeq
      .filter(_.startsWith("opGroup="))
    assert(left == Seq("opGroup=120"))
    assert(new java.io.File(s"${cfg.stagingDir}/bucket=eb").exists())

    // admission budget: the same search under a 1-byte scan budget is
    // rejected before any task launches; a sane budget admits
    val tight = new GraftEngine(spark, cfg.copy(maxSearchScanBytes = 1L))
    intercept[IllegalStateException](tight.search(q))
    val roomy = new GraftEngine(spark, cfg.copy(maxSearchScanBytes = Long.MaxValue))
    assert(roomy.search(q).select("key").as[String].collect().toSeq == direct)
    Seq(engine, tight, roomy).foreach(_.close())
  }

  test("close() releases a small bucket's driver-held snapshot") {
    val landing = SparkTestSession.tempDir("e-close-landing")
    Populator.populateLanding(spark, landing, "cb", 20, groupInterval = 10L)
    val engine = new GraftEngine(spark, GraftConfig(landing,
      SparkTestSession.tempDir("e-close-staging"), SparkTestSession.tempDir("e-close-ckpt")))
    val builds = SearchMetricsSource.getOrRegister().snapshotBuilds
    try {
      val b0 = builds.getCount
      val page = engine.searchCached(SearchQuery("cb"))
      assert(page.count() == 20)
      // a 20-key bucket is held on the driver: the page is local rows
      assert(page.queryExecution.logical.isInstanceOf[LocalRelation])
      assert(engine.searchCached(SearchQuery("cb")).count() == 20 && builds.getCount == b0 + 1)
      engine.close()
      // the snapshot is gone: the next search builds it again
      val again = engine.searchCached(SearchQuery("cb"))
      assert(builds.getCount == b0 + 2)
      assert(again.collect().toSeq == page.collect().toSeq)
    } finally engine.close()
  }
}
