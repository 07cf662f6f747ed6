package graft

import graft.analytics.Dedup
import graft.ops.DerivedZone
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The derived-zone contract (the compactor pattern applied to shared
  * analytics artifacts): pay the build once per DATASET, publish as
  * parquet keyed by the input fingerprint, serve every later session —
  * fresh JVMs included — with zero rebuild jobs; an in-place input
  * rewrite republishes and prunes the stale zone.
  */
class DerivedZoneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("append-aware refresh parses ONLY the delta files and serves the generation union") {
    val root = SparkTestSession.tempDir("zone-root-append")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("zone-data-append")
      def row(id: Long) = (id, id % 3, s"v$id")
      (1L to 20L).map(row).toDF("id", "p", "v")
        .repartition(2).write.mode("overwrite").parquet(s"$dir/t.parquet")

      val zone = new DerivedZone("appendz_t", Seq("t.parquet"),
        partitionCols = Seq("p"))
      var deltaPaths: Seq[String] = Nil
      var deltaScanned: Seq[String] = Nil
      def fetch(z: DerivedZone) = z.getAppendAware(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet"))(files => {
        deltaPaths = files
        val d = spark.read.parquet(files: _*)
        deltaScanned = d.inputFiles.toSeq
        d
      })

      assert(fetch(zone).count() == 20)
      assert(zone.builds.get == 1 && zone.deltaBuilds.get == 0)

      // append ONE new data file to the input table
      (21L to 25L).map(row).toDF("id", "p", "v")
        .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")

      val r2 = fetch(zone)
      assert(zone.builds.get == 1, "append must NOT trigger a full rebuild")
      assert(zone.deltaBuilds.get == 1)
      // jobs ∝ delta: the incremental build saw exactly the appended file
      assert(deltaPaths.size == 1, s"delta files: $deltaPaths")
      assert(deltaScanned.size == 1, s"delta scan read: $deltaScanned")
      // the unioned read equals a from-scratch parse of the whole input
      assert(r2.count() == 25)
      assert(r2.select("id", "p", "v").as[(Long, Long, String)].collect().sorted.toSeq ==
        (1L to 25L).map(row).sorted)

      // a FRESH zone instance (new JVM stand-in) serves the chain from
      // disk with zero build jobs of either kind
      val zone2 = new DerivedZone("appendz_t", Seq("t.parquet"),
        partitionCols = Seq("p"))
      assert(fetch(zone2).count() == 25)
      assert(zone2.builds.get == 0 && zone2.deltaBuilds.get == 0 &&
        zone2.diskHits.get == 1)

      // partition pruning survives the union: a p-filter leaves
      // PartitionFilters on every generation branch and scans fewer files
      val pruned = fetch(zone2).filter(col("p") === 1L)
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
        "partition filter must push into each generation's scan")
      assert(pruned.count() == (1L to 25L).count(_ % 3 == 1))

      // an in-place REWRITE is not an append — full rebuild, fresh chain
      (1L to 7L).map(row).toDF("id", "p", "v")
        .repartition(2).write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(fetch(zone2).count() == 7)
      assert(zone2.builds.get == 1, "rewrite must fall back to a full rebuild")
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("op-log zone refresh after an events append is incremental and stays correct") {
    val root = SparkTestSession.tempDir("zone-root-oplog")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("zone-data-oplog")
      def events(ids: Range) = ids.map { i =>
        (i.toLong, i.toLong % 5, if (i % 7 == 0) "error" else "click",
          i * 1.25, i * 1000000000L, s"""{"k":"key${i % 11}"}""")
      }.toDF("event_id", "user_id", "event_type", "value", "ts", "props")
      events(1 to 400).repartition(2)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      // independent expected snapshot: window-max formulation over a
      // direct read (never touches the zone)
      def expected(): Seq[(String, Long)] = {
        import org.apache.spark.sql.expressions.Window
        val ev = spark.read.parquet(s"$dir/events.parquet")
          .withColumn("object_key", concat(col("user_id").cast("string"),
            lit(":"), get_json_object(col("props"), "$.k")))
        val w = Window.partitionBy("object_key")
        ev.withColumn("mx", max("event_id").over(w))
          .filter(col("event_id") === col("mx") && col("event_type") =!= "error")
          .select("object_key", "event_id").as[(String, Long)]
          .collect().sorted.toSeq
      }

      def got(): Seq[(String, Long)] =
        graft.analytics.CluesoOps.mvccSnapshot(spark, dir)
          .select("object_key", "last_event_id").as[(String, Long)]
          .collect().sorted.toSeq

      assert(got() == expected())
      val (fullBefore, deltaBefore) = graft.analytics.CluesoOps.opLogZoneStats

      // one more ingested events file lands — refresh must be delta-only
      events(401 to 450).coalesce(1)
        .write.mode("append").parquet(s"$dir/events.parquet")
      assert(got() == expected(), "snapshot after append must stay correct")
      val (fullAfter, deltaAfter) = graft.analytics.CluesoOps.opLogZoneStats
      assert(fullAfter == fullBefore,
        "an events append must not re-parse the whole op-log")
      assert(deltaAfter == deltaBefore + 1,
        "an events append must publish exactly one delta generation")
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("a slow build on one key does not delay get on another key of the same zone") {
    val root = SparkTestSession.tempDir("zone-root-keys")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("zone-data-keys")
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
      val inputs = Seq(s"$dir/t.parquet")
      def read() = spark.read.parquet(inputs: _*)
      val zone = new DerivedZone("spec_keys", Nil)
      // two keys in one bin of the zone's 16-bin entry map, where a build
      // inside ConcurrentHashMap.compute would block the other key
      def bin(k: String) = { val h = (spark, k).hashCode; (h ^ (h >>> 16)) & 15 }
      val fastKey = Iterator.from(0).map(i => s"fast$i").find(bin(_) == bin("slow")).get
      val started = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      @volatile var slowErr: Option[Throwable] = None
      val slow = new Thread(() =>
        try {
          zone.get(spark, "slow", inputs) { started.countDown(); release.await(); read() }
          ()
        } catch { case e: Throwable => slowErr = Some(e) })
      slow.start()
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "slow build never started")
      // on its own thread: a get blocked behind the slow build must fail
      // the test, not hang it (the slow build waits for this one)
      @volatile var fastRows = -1L
      val fast = new Thread(() => fastRows = zone.get(spark, fastKey, inputs)(read()).count())
      fast.start()
      fast.join(15000)
      val blocked = fast.isAlive
      release.countDown()
      slow.join(30000)
      fast.join(30000)
      assert(!blocked, s"$fastKey waited for the slow build")
      assert(fastRows == 1 && slowErr.isEmpty, s"slow build failed: $slowErr")
      assert(zone.get(spark, "slow", inputs)(fail("must be cached")).count() == 1)
      assert(zone.builds.get == 2)
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("fingerprint: stable on unchanged data, distinct for absent vs present") {
    val dir = SparkTestSession.tempDir("memo-fp")
    val fpAbsent = DerivedZone.fingerprint(spark, Seq(s"$dir/t.parquet"))
    Seq(1, 2, 3).toDF("x").write.parquet(s"$dir/t.parquet")
    val fp1 = DerivedZone.fingerprint(spark, Seq(s"$dir/t.parquet"))
    val fp2 = DerivedZone.fingerprint(spark, Seq(s"$dir/t.parquet"))
    assert(fp1 == fp2, "same on-disk state, same fingerprint")
    assert(fp1 != fpAbsent, "absent and present must differ")
  }

  test("malformed purgeGraceMs degrades to the default instead of failing the build") {
    val root = SparkTestSession.tempDir("zone-root-badgrace")
    spark.conf.set("spark.graft.derived.dir", root)
    spark.conf.set("spark.graft.derived.purgeGraceMs", "15 minutes") // not a long
    try {
      val dir = SparkTestSession.tempDir("zone-data-badgrace")
      Seq((1L, "a")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val zone = new DerivedZone("badgrace_t", Seq("t.parquet"))
      // publish runs the prune path, which reads the grace conf — a bad
      // tuning value must not throw NumberFormatException from get()
      assert(zone.get(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet")).count() == 1)
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      spark.conf.unset("spark.graft.derived.purgeGraceMs")
    }
  }

  test("build once, memory-hit, fresh-entry disk-hit, rewrite republish + prune") {
    val root = SparkTestSession.tempDir("zone-root")
    spark.conf.set("spark.graft.derived.dir", root)
    // grace < 0 ⇒ superseded zones prune immediately (this test pins the
    // GC behavior; the grace-window behavior has its own test below)
    spark.conf.set("spark.graft.derived.purgeGraceMs", "-1")
    try {
      val dir = SparkTestSession.tempDir("zone-data")
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")

      val zone = new DerivedZone("spec_artifact", Seq("t.parquet"))
      def read() = zone.get(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet").select("id", "v"))

      assert(read().count() == 2 && zone.builds.get == 1)
      assert(read().count() == 2 && zone.builds.get == 1, "unchanged data must memory-hit")

      // a different dir is a different entry, not a collision
      val dir2 = SparkTestSession.tempDir("zone-data2")
      Seq((9L, "z")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir2/t.parquet")
      assert(zone.get(spark, dir2)(
        spark.read.parquet(s"$dir2/t.parquet").select("id", "v")).count() == 1)
      assert(zone.builds.get == 2)
      assert(read().count() == 2 && zone.builds.get == 2, "dir1 entry undisturbed")

      // a fresh process has empty in-memory state but the same zone root:
      // clear() simulates it — the artifact must come off disk, zero builds
      zone.clear()
      assert(read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
      assert(zone.builds.get == 2, "published artifact must serve without rebuilding")
      assert(zone.diskHits.get == 1)

      // in-place rewrite: new fingerprint → republish; stale zone pruned
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(read().count() == 3, "rewrite must serve the NEW data")
      assert(zone.builds.get == 3)
      // one live fingerprint zone per input dir (dir1's stale one pruned)
      val perDir = new java.io.File(s"$root/spec_artifact").listFiles()
        .filter(_.isDirectory).toSeq.map(_.listFiles().filter(_.isDirectory)
          .filterNot(_.getName.startsWith(".")).toSeq)
      assert(perDir.map(_.length) == Seq(1, 1),
        s"superseded fingerprint zones must be pruned: $perDir")

      // a bumped build-logic revision is a different artifact even on
      // identical data — the data fingerprint alone cannot see code changes
      val zone2 = new DerivedZone("spec_artifact", Seq("t.parquet"), rev = 2)
      assert(zone2.get(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet").limit(1)).count() == 1)
      assert(zone2.builds.get == 1, "new rev must rebuild, not serve rev-1 files")
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      spark.conf.unset("spark.graft.derived.purgeGraceMs")
    }
  }

  test("republish keeps the superseded zone for the purge grace window — a concurrent reader mid-scan survives") {
    val root = SparkTestSession.tempDir("zone-root-grace")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("zone-data-grace")
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")

      val zone = new DerivedZone("spec_grace", Seq("t.parquet"))
      def read() = zone.get(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet").select("id", "v"))
      def fpDirs() = new java.io.File(s"$root/spec_grace").listFiles()
        .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
        .filterNot(_.getName.startsWith("."))

      // v1 published; hold the served frame — it stands in for a reader in
      // ANOTHER JVM whose lazy scan hasn't run yet when v2 publishes
      val held = read()
      assert(held.count() == 2)
      // v1 was published long before it is superseded: the grace runs from
      // the supersession, so its age at publish must not matter
      fpDirs().foreach(_.setLastModified(System.currentTimeMillis() - 3600 * 1000L))

      // in-place rewrite → new fingerprint → republish under default grace
      // (15 min): the v1 zone must survive the prune pass
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(read().count() == 3 && zone.builds.get == 2)
      assert(fpDirs().length == 2,
        s"superseded zone must be retained within the grace window: ${fpDirs().toSeq}")
      // the held (pre-republish) frame still scans — no FileNotFound
      assert(held.count() == 2, "pre-republish reader must survive the republish")

      // once aged out (grace forced negative), the NEXT publish GCs it
      spark.conf.set("spark.graft.derived.purgeGraceMs", "-1")
      Seq((1L, "a")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(read().count() == 1 && zone.builds.get == 3)
      assert(fpDirs().length == 1,
        s"aged-out superseded zones must be GC'd on the next publish: ${fpDirs().toSeq}")
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      spark.conf.unset("spark.graft.derived.purgeGraceMs")
    }
  }

  test("partitioned artifact round-trips schema, column order and partition-column type") {
    val root = SparkTestSession.tempDir("zone-root-p")
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      val dir = SparkTestSession.tempDir("zone-data-p")
      Seq((1L, 0L, "x"), (2L, 0L, "y"), (3L, 1L, "z")).toDF("id", "part", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")

      val zone = new DerivedZone("spec_part", Seq("t.parquet"),
        partitionCols = Seq("part"))
      def read() = zone.get(spark, dir)(
        spark.read.parquet(s"$dir/t.parquet").select("id", "part", "v"))

      val built = read()
      // partition dirs exist on disk
      zone.clear()
      val served = read()
      assert(zone.builds.get == 1 && zone.diskHits.get == 1)
      // column ORDER survives (partitioned reads natively reorder) and the
      // partition column keeps its LONG type (dir-name inference would
      // narrow it to int)
      assert(served.columns.toSeq == Seq("id", "part", "v"))
      assert(served.schema("part").dataType == org.apache.spark.sql.types.LongType)
      assert(served.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq ==
        built.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq)
      // a literal predicate on the partition column prunes statically
      val plan = served.filter(org.apache.spark.sql.functions.col("part") === 0L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("part#"),
        s"expected a partition filter in:\n$plan")
    } finally spark.conf.unset("spark.graft.derived.dir")
  }

  test("round-15 text zones: one tf/df build serves both keyword ops; fresh sessions rebuild nothing") {
    import graft.analytics.TextOps
    val root = SparkTestSession.tempDir("zone-root-text")
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      TextOps.lmScoreMemo.clear(); TextOps.dsirScoreMemo.clear()
      TextOps.tfDfMemo.clear()
      val lm0 = TextOps.lmScoreMemo.builds.get
      val ds0 = TextOps.dsirScoreMemo.builds.get
      val td0 = TextOps.tfDfMemo.builds.get

      // session 1 pays one build per artifact — top_term and
      // salient_terms must SHARE the tf/df build (the round-14 finding:
      // each rebuilt the identical explode+agg chain per run)
      val lm1 = TextOps.textLmScore(spark, dir).collect()
      val ds1 = TextOps.corpusDsir(spark, dir).collect()
      val tt1 = TextOps.textTopTerm(spark, dir).collect()
      val st1 = TextOps.textSalientTerms(spark, dir).collect()
      assert(TextOps.lmScoreMemo.builds.get == lm0 + 1)
      assert(TextOps.dsirScoreMemo.builds.get == ds0 + 1)
      assert(TextOps.tfDfMemo.builds.get == td0 + 1,
        "textTopTerm and textSalientTerms must share ONE tf/df artifact")

      // a custom LM vocab size is a different computation — it must
      // build live and leave the published default-size zone alone
      TextOps.textLmScore(spark, dir, 7).collect()
      assert(TextOps.lmScoreMemo.builds.get == lm0 + 1,
        "custom vocab size must not touch the default-size zone")

      // "session 2": fresh in-memory state, same zone root — all four
      // queries serve from the published artifacts with zero builds
      TextOps.lmScoreMemo.clear(); TextOps.dsirScoreMemo.clear()
      TextOps.tfDfMemo.clear()
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.derived.dir", root)
      assert(TextOps.textLmScore(s2, dir).collect().toSeq == lm1.toSeq)
      assert(TextOps.corpusDsir(s2, dir).collect().toSeq == ds1.toSeq)
      assert(TextOps.textTopTerm(s2, dir).collect().toSeq == tt1.toSeq)
      assert(TextOps.textSalientTerms(s2, dir).collect().toSeq == st1.toSeq)
      assert(TextOps.lmScoreMemo.builds.get == lm0 + 1 &&
        TextOps.dsirScoreMemo.builds.get == ds0 + 1 &&
        TextOps.tfDfMemo.builds.get == td0 + 1,
        "fresh session must serve all three text zones without rebuilding")
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      TextOps.lmScoreMemo.clear(); TextOps.dsirScoreMemo.clear()
      TextOps.tfDfMemo.clear()
    }
  }

  test("fresh session serves dedup_clusters/dedup_keep_best with zero rebuild jobs") {
    val root = SparkTestSession.tempDir("zone-root-dedup")
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      Dedup.clearMemos()
      val pairsBuilds0 = Dedup.pairsMemo.builds.get
      val labelsBuilds0 = Dedup.labelsMemo.builds.get

      // session 1 pays the builds and publishes
      val clusters1 = Dedup.dedupClusters(spark, dir).collect()
      val keepBest1 = Dedup.dedupKeepBest(spark, dir).collect()
      assert(Dedup.pairsMemo.builds.get == pairsBuilds0 + 1)
      assert(Dedup.labelsMemo.builds.get == labelsBuilds0 + 1)

      // "session 2": fresh in-memory state (what a new JVM starts with),
      // same zone root — served entirely from the published artifacts
      Dedup.clearMemos()
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.derived.dir", root)
      val clusters2 = Dedup.dedupClusters(s2, dir).collect()
      val keepBest2 = Dedup.dedupKeepBest(s2, dir).collect()
      assert(Dedup.pairsMemo.builds.get == pairsBuilds0 + 1,
        "fresh session must not rebuild the confirmed-pairs artifact")
      assert(Dedup.labelsMemo.builds.get == labelsBuilds0 + 1,
        "fresh session must not re-run the label propagation")
      assert(clusters2.toSeq == clusters1.toSeq, "served clusters must match built")
      assert(keepBest2.toSeq == keepBest1.toSeq, "served keep-best must match built")
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      Dedup.clearMemos()
    }
  }

  test("fresh session serves q_min_cost_supplier/q_recursive_chain/dedup_lsh_quality with zero rebuild jobs") {
    import graft.analytics.Relational
    val root = SparkTestSession.tempDir("zone-root-cuts")
    val dir = "/root/testdata/sf0.001"
    val keys = Seq("q_min_cost_supplier", "q_recursive_chain", "dedup_lsh_quality")
    val zones = Seq(Relational.minCostLinesZone, Relational.chainZone,
      Dedup.lshCandZone, Dedup.sharedMemo)
    def clearAll(): Unit = zones.foreach(_.clear())
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      clearAll()
      val builds0 = zones.map(_.builds.get)

      // session 1 pays one build per artifact and publishes it
      val rows1 = keys.map(k => SparkEntry.queries(k)(spark, dir).collect().toSeq)
      assert(zones.map(_.builds.get) == builds0.map(_ + 1))

      // "session 2": fresh in-memory state, same zone root — every
      // artifact comes off disk, no build of any zone runs
      clearAll()
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.derived.dir", root)
      val all0 = DerivedZone.processBuilds.get
      val rows2 = keys.map(k => SparkEntry.queries(k)(s2, dir).collect().toSeq)
      assert(zones.map(_.builds.get) == builds0.map(_ + 1),
        "fresh session must not rebuild any of the three queries' zones")
      assert(DerivedZone.processBuilds.get == all0,
        "fresh session must build no zone at all")
      keys.zip(rows1.zip(rows2)).foreach { case (k, (r1, r2)) =>
        assert(r2 == r1, s"$k: served rows must match built")
      }
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      clearAll()
    }
  }
}
