package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scan-side pruning evidence: partition pruning on partitioned layouts
  * and predicate/column pushdown into the parquet reader. These are the
  * properties SURVEY §3 claims ("pruned scans") — asserted on real plans
  * so a regression (e.g. a cast that breaks pushdown) fails loudly.
  */
class PruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))

  test("partition filter prunes a partitioned layout to the matching directories") {
    val dir = SparkTestSession.tempDir("graft_part")
    Tables.events(spark, sf)
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = scanOf(q)
    assert(scan.partitionFilters.nonEmpty,
      "partition predicate did not become a PartitionFilter")
    // execute THIS QueryExecution (count() would plan a fresh one) so the
    // captured scan node's metrics populate
    assert(q.queryExecution.toRdd.count() > 0)
    // the pruned scan must touch only the matching partition's files:
    // the scan's numFiles metric stays below the full layout's file count
    val allFiles = new java.io.File(dir).listFiles().count(_.isDirectory)
    assert(allFiles > 1, "layout should have several partition dirs")
    val scanned = scan.metrics("numFiles").value
    val clickFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.toString.contains("event_type=click") &&
        p.toString.endsWith(".parquet"))
      .count()
    assert(scanned == clickFiles,
      s"scan read $scanned files, matching partition has $clickFiles")
  }

  test("mvcc_asof watermark prunes op-part directories of the op-log zone") {
    val root = SparkTestSession.tempDir("zone-root-asof")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      // synthetic op-log spanning four op_part directories (ids div 1e6)
      val dir = SparkTestSession.tempDir("asof-data")
      import spark.implicits._
      Seq(
        (1L, 1L, "purchase", 10.0, 1000000000L, """{"k":"1"}"""),
        (2L, 800000L, "purchase", 20.0, 2000000000L, """{"k":"2"}"""),
        (3L, 1000001L, "purchase", 30.0, 3000000000L, """{"k":"3"}"""),
        (4L, 2000001L, "purchase", 40.0, 4000000000L, """{"k":"4"}"""),
        (5L, 3500000L, "purchase", 50.0, 5000000000L, """{"k":"5"}"""))
        .toDF("user_id", "event_id", "event_type", "value", "ts", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      // watermark = 3500000/4 = 875000 → only op_part=0 may survive
      val q = graft.analytics.CluesoOps.mvccAsof(spark, dir)
      val keys = q.collect().map(_.getString(0)).toSeq
      assert(keys == Seq("1:1", "2:2"), s"asof keys: $keys")

      // AQE hides executed stages behind QueryStageExec nodes — descend
      // explicitly to reach the materialized scans
      def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allScans(r.child)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(q.queryExecution.executedPlan)
      assert(scans.nonEmpty, "expected op-log zone scans in the asof plan")
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"asof watermark must become a PartitionFilter: ${s.metadata}")
      }
      // the zone has 4 op_part dirs; the pruned scans read only op_part=0
      val zoneFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("op_part="))
        .count()
      val keptFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("op_part=0"))
        .count()
      assert(zoneFiles > keptFiles, "zone should span several op_part dirs")
      scans.foreach { s =>
        assert(s.metrics("numFiles").value == keptFiles,
          s"scan read ${s.metrics("numFiles").value} files, pruned set is $keptFiles")
      }
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("mvcc_asof pruning survives a delta-published zone generation chain") {
    // Round-16 pin (verdict item 7): the op-log zone's read path unions
    // one partitioned parquet root PER GENERATION after an append-aware
    // delta publish. The asof watermark must prune op_part directories in
    // EVERY branch of that union, not just the single-generation layout
    // the test above covers.
    val root = SparkTestSession.tempDir("zone-root-asof-chain")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("asof-chain-data")
      import spark.implicits._
      Seq(
        (1L, 1L, "purchase", 10.0, 1000000000L, """{"k":"1"}"""),
        (2L, 800000L, "purchase", 20.0, 2000000000L, """{"k":"2"}"""),
        (3L, 1000001L, "purchase", 30.0, 3000000000L, """{"k":"3"}"""),
        (4L, 3500000L, "purchase", 40.0, 4000000000L, """{"k":"4"}"""))
        .toDF("user_id", "event_id", "event_type", "value", "ts", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // materialize the first generation (full build)
      val (fullsBefore, deltasBefore) = graft.analytics.CluesoOps.opLogZoneStats
      graft.analytics.CluesoOps.mvccAsof(spark, dir).collect()

      // APPEND one new events file (old files untouched) — the zone must
      // refresh as a DELTA generation, producing a 2-generation chain
      val tmp = SparkTestSession.tempDir("asof-chain-append")
      Seq((5L, 7900000L, "purchase", 50.0, 5000000000L, """{"k":"5"}"""))
        .toDF("user_id", "event_id", "event_type", "value", "ts", "props")
        .write.mode("overwrite").parquet(tmp)
      val src = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator()
      var moved = false
      while (src.hasNext && !moved) {
        val p = src.next()
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, java.nio.file.Paths.get(
            s"$dir/events.parquet/part-append-${p.getFileName}"))
          moved = true
        }
      }
      assert(moved, "no parquet file to append")

      // new head 7900000 → watermark 1975000 → keep op_part <= 1
      val q = graft.analytics.CluesoOps.mvccAsof(spark, dir)
      val keys = q.collect().map(_.getString(0)).toSeq
      assert(keys == Seq("1:1", "2:2", "3:3"), s"asof keys: $keys")
      val (fulls, deltas) = graft.analytics.CluesoOps.opLogZoneStats
      assert(fulls == fullsBefore + 1 && deltas == deltasBefore + 1,
        s"expected one full + one delta build, got Δfull=${fulls - fullsBefore} " +
          s"Δdelta=${deltas - deltasBefore}")

      def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => allScans(r.child)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(q.queryExecution.executedPlan)
      // the union read has one scan branch per generation
      assert(scans.size >= 2, s"expected >=2 generation scans, got ${scans.size}")
      scans.foreach { s =>
        assert(s.partitionFilters.nonEmpty,
          s"asof watermark must prune every generation branch: ${s.metadata}")
      }
      // across the whole chain only op_part <= 1 files may be read: the
      // delta generation holds op_part=7 only, so its branches read ZERO.
      // The argmax merge reads the log more than once, so compare each
      // scan against the pruned file count of ITS OWN generation dir.
      import scala.jdk.CollectionConverters._
      val genDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("op_part="))
        .map(_.toString).toSeq
        .groupBy(f => f.substring(0, f.indexOf("/op_part=")))
      assert(genDirs.size == 2, s"expected 2 generations, got ${genDirs.keySet}")
      val keptByGen = genDirs.map { case (g, fs) =>
        g -> fs.count(f => f.contains("op_part=0") || f.contains("op_part=1")).toLong
      }
      assert(keptByGen.values.sum < genDirs.values.map(_.size).sum,
        "chain should hold op_part dirs above the watermark")
      scans.foreach { s =>
        val loc = s.metadata("Location")
        val kept = keptByGen.collectFirst {
          case (g, k) if loc.contains(g.substring(g.lastIndexOf('/') + 1)) => k
        }.getOrElse(fail(s"scan location $loc matches no generation dir"))
        assert(s.metrics("numFiles").value == kept,
          s"scan at $loc read ${s.metrics("numFiles").value} files, pruned set is $kept")
      }
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("predicate and projection push down into the parquet scan") {
    val q = Tables.documents(spark, sf)
      .filter(col("doc_id") < 10).select("doc_id", "lang")
    val scan = scanOf(q)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThan(doc_id,10)"),
      s"filter not pushed to parquet: $pushed")
    val schema = scan.requiredSchema.fieldNames.toSet
    assert(schema == Set("doc_id", "lang"),
      s"column pruning failed, scan reads: $schema")
  }
}
