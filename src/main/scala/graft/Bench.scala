package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // The width is TUNING'S prescription by default — Tuning.benchWidth
    // applied to the scale point's on-disk bytes — so the sizing rule the
    // repo documents and the width the benches actually run can't drift
    // (round-11 ran the prescribed 128 at ×1000 via a hand-set env var;
    // now Bench derives it: ~17 GB source → 128 on 32 cores, sf0.1 → 32).
    // SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides: chain-ratio
    // artifacts pin the core count at every point so ratios compare like
    // with like (partitions that grow with data are the cluster shape,
    // but they'd make the small points measure scheduling, not data).
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      ops.Tuning.benchWidth(dirBytes(sfDir), cpus.toInt).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", width)
      // The generated-class cache defaults to 100 entries; 100 queries x
      // several codegen units each thrash it, so classes compiled by the
      // untimed warm-up get evicted and RECOMPILED inside timed windows
      // (observed as multi-second run-to-run noise on individual
      // queries). Static conf - must be set before the session starts.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // Long-bench resilience: a multi-minute driver stall (GC storm or a
      // saturated dispatcher at the largest scale points) must not let
      // HeartbeatReceiver expire the ONLY executor — in local mode that is
      // unrecoverable (observed: 175 s heartbeat gap at sf10 → executor
      // deregistered → RPC endpoint storm → JVM death at minute 39 with no
      // artifact). 600 s tolerates any observed stall; real clusters run
      // the same setting for large shuffles.
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val json = run(spark,
      sfDir = sfDir,
      only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet),
      reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1),
      commit = gitCommit())
    // The full record goes to a file: it outgrows a stdout reader's
    // capture window (BENCH_r03 lost 34 of 99 timings + the total to
    // stdout truncation). stdout ends with the compact headline, which fits.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench-out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(headline(json))
    spark.stop()
  }

  /** Readers of Bench's stdout parse its LAST line and keep at most
    * 2,000 characters of it. */
  val HeadlineMaxChars = 2000

  /** The last stdout line, from [[run]]'s full record:
    * `metric`, `value`, `first_value`, `errors`, `reps`, `n` (queries run)
    * and `commit`, plus `queries` (each query's best seconds, rounded to
    * 10 ms) when the line still fits in `maxChars`. */
  def headline(full: String, maxChars: Int = HeadlineMaxChars): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val j = parse(full)
    val queries = j \ "queries" match {
      case JObject(qs) => qs.map {
        case (k, JDouble(sec)) => k -> JDouble(math.round(sec * 100) / 100.0)
        case kv => kv
      }
      case _ => Nil
    }
    val head = Seq("metric", "value", "first_value", "errors", "reps").map(k => k -> j \ k) ++
      Seq("n" -> JInt(queries.size), "commit" -> j \ "commit")
    val withQueries = compact(render(JObject((head :+ ("queries" -> JObject(queries))).toList)))
    if (withQueries.length <= maxChars) withQueries else compact(render(JObject(head.toList)))
  }

  /** Total bytes of data files under `dir` (driver-side walk, no
    * session needed — the width must be known before the session
    * starts). Hidden/underscore marker files are skipped, matching
    * [[graft.ops.DerivedZone.listEntries]]. */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .mapToLong(java.nio.file.Files.size).sum()
      finally s.close()
    }
  }

  /** The repo's current short commit hash, for artifact provenance —
    * a benchmark number whose producing code can't be identified can't
    * be audited. Empty when not run from a git checkout. */
  def gitCommit(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD").start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0) out else ""
    } catch { case _: Throwable => "" }

  /** The bench body, session-in/JSON-out (testable: no env reads, no
    * session lifecycle, no process output). */
  def run(spark: SparkSession, sfDir: String,
          only: Option[Set[String]], reps: Int, commit: String = ""): String = {
    def consume(df: org.apache.spark.sql.DataFrame): Unit = {
      df.agg(org.apache.spark.sql.functions.bit_xor(
        org.apache.spark.sql.functions.xxhash64(
          df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)))
        .collect()
      ()
    }
    // Warm the session once (parquet footers, codegen, shuffle machinery)
    // AND fault every table's data pages into the page cache: count() alone
    // reads only footer metadata, leaving the first query that touches each
    // column to absorb the cold I/O. The full-column consume decodes and
    // reads everything, untimed.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => try consume(Tables.load(spark, sfDir, t))
        catch { case _: Throwable => () })
    try consume(Tables.events(spark, sfDir)) catch { case _: Throwable => () }
    // `only`: optional query filter for isolating one query's cost
    // (e.g. SPARK_GRAFT_ONLY=metadata_search,compaction_merge).
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    // Untimed warm-up at the smallest scale factor: the generated-code cache
    // keys on plan structure, so running each query's exact shape at sf0.001
    // compiles + JITs every kernel once. Without this, whichever query runs
    // first absorbs several seconds of codegen that isn't its own cost.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && !sfDir.endsWith("sf0.001")) {
      selected.foreach { case (_, fn) =>
        try consume(fn(spark, warmDir)) catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
      System.gc()
    }
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Best-of-N timing (default 2): single-shot timings carry multi-second
    // JIT/scheduling jitter on individual queries (observed: the same
    // query bouncing 3.8 s ↔ 9 s between full runs with identical code,
    // zero GC attribution); the min over `reps` consecutive runs is the
    // reproducible cost. Reps and the aggregation are recorded in the
    // output JSON so the artifact is self-describing.
    val results = selected.map { case (name, fn) =>
      val gc0 = gcMillis
      val zb0 = graft.ops.DerivedZone.processBuilds.get()
      var best = Double.MaxValue
      val runTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      // Force FULL evaluation of every output column: count() alone lets
      // Catalyst prune the projections it doesn't need, which under-times
      // projection-heavy queries. xxhash64 over all columns + bit_xor is a
      // cheap total consumer (and overflow-free, unlike sum under ANSI).
      // A query that THROWS is recorded as an error, never silently benched
      // as ~0 s (a swallowed failure deflates the total unobserved).
      for (_ <- 1 to reps if err.isEmpty) {
        val t0 = System.nanoTime()
        val ok = try { consume(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        }
        val dtRep = (System.nanoTime() - t0) / 1e9
        runTimes += dtRep
        // only SUCCESSFUL reps compete for the headline time: a rep that
        // crashed fast must not become min() and masquerade as the
        // query's reproducible cost
        if (ok) best = math.min(best, dtRep)
      }
      // an errored query reports its time-to-failure (never a silent ~0)
      val dt = if (best != Double.MaxValue) best else runTimes.lastOption.getOrElse(0.0)
      val gcDt = (gcMillis - gc0) / 1e3
      // Between queries (untimed): drop cached tables and WAIT for the
      // ContextCleaner to actually reap the finished query's checkpoint
      // blocks. A bare gc() only enqueues the cleanup — the async drop
      // then competes with the NEXT timed query for storage/execution
      // memory (measured: mvcc_snapshot 2.3 s clean vs 8-30 s right
      // after checkpoint-heavy neighbors). Poll the persistent-RDD count
      // until it stops shrinking; RDDs a live frame still references
      // legitimately remain.
      spark.catalog.clearCache()
      System.gc()
      var last = Int.MaxValue
      val deadline = System.nanoTime() + 3000000000L
      var stable = 0
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val n = spark.sparkContext.getPersistentRDDs.size
        if (n >= last) stable += 1 else { stable = 0; System.gc() }
        last = n
      }
      // progress breadcrumb (stderr, not part of the JSON contract): when a
      // run dies mid-flight this is the only way to attribute the death to
      // a query; timing cost is one syscall per query.
      // warm/cold decomposition flag: did any derived-zone build (full or
      // delta) run inside this query's timed reps? A `true` marks the
      // number as carrying one-time materialization cost; cross-round
      // comparisons of `false` rows compare steady state mechanically.
      val zoneBuilt = graft.ops.DerivedZone.processBuilds.get() > zb0
      System.err.println(
        f"[bench] $name done best=$dt%.3fs runs=${runTimes.mkString(",")} zone_built=$zoneBuilt err=${err.getOrElse("-")}")
      (name, dt, runTimes.toSeq, gcDt, err, zoneBuilt)
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // every rep's wall time, in order — the min is the headline, but a
    // zone-backed query's first run carries its one-time zone build; the
    // full list keeps that cost auditable instead of vanishing into min()
    val runsJ = results.map { case (k, _, rs, _, _, _) =>
      s"\"" + k + "\":" + rs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, _, g, _, _) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val status = results.map { case (k, _, _, _, err, _) =>
      s"\"" + k + "\":" + err.map(jstr).getOrElse("\"ok\"") }
      .mkString("{", ",", "}")
    val zones = results.map { case (k, _, _, _, _, zb) =>
      s"\"" + k + "\":" + zb }
      .mkString("{", ",", "}")
    val nErr = results.count(_._5.isDefined)
    val total = results.map(_._2).sum
    // first_value: sum of every query's FIRST rep. The best-of headline
    // deliberately strips JIT/scheduler jitter, but it also strips the
    // one-time session-memo builds (a memoized query's rep 2 is a memo
    // hit) — scaling comparisons need the first-run total or the builds'
    // growth with data vanishes from the curve.
    val firstTotal = results.map(_._3.headOption.getOrElse(0.0)).sum
    // provenance: wall-clock stamp makes every artifact auditable as
    // actually re-measured (vs a counter bump on stale numbers)
    val stamp = java.time.Instant.now().toString
    s"""{"metric":"total","value":$total,"first_value":$firstTotal,"unit":"sec","reps":$reps,"agg":"min","errors":$nErr,"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},"queries":$qs,"runs":$runsJ,"gc_sec":$gcs,"status":$status,"zone_built":$zones,"sf":"$sfDir","generated_at":"$stamp","commit":"$commit"}"""
  }
}
