package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row

/** `analytics_suite`: a fixed list of `SparkEntry.queries`, every
  * analytics module covered, over a generated dataset. Set-up generates
  * the tables and runs every query once, which builds every derived zone
  * and compiles the generated code, and a second untimed pass warms the
  * JIT; the timed passes follow, each in a
  * seeded order. Every result is hashed and must equal the hash recorded
  * at the seed commit. */
object AnalyticsSuite {

  /** (module, query key): two per analytics module, among them queries
    * that build derived zones (IVF/PQ codes, shingles, term statistics,
    * the op-log snapshot, media features) and the relational join that
    * historically hit a scale cliff. */
  val Queries: Seq[(String, String)] = Seq(
    "relational" -> "q5_join", "relational" -> "q_window_topk",
    "events" -> "events_retention", "events" -> "events_session_window",
    "similarity" -> "knn_ivf_pq", "similarity" -> "knn_brute",
    "text" -> "text_bm25", "text" -> "text_lm_score",
    "dedup" -> "dedup_ngram_jaccard", "dedup" -> "dedup_minhash_lsh",
    "clueso" -> "mvcc_snapshot", "clueso" -> "mvcc_diff",
    "multimodal" -> "mm_fingerprint", "multimodal" -> "mm_resize")

  val Modules: Seq[String] = Queries.map(_._1).distinct

  /** The generated dataset is fixed (not drawn from the workload seed) so
    * that result hashes can be compared with the ones recorded at the
    * seed commit; the workload seed orders the queries in each pass. */
  val DataSeed = 20240101L

  /** Generator scale: 1.0 is the row count of the engine's sf0.01 test
    * data (60,000 lineitems, 500 documents, 500 embeddings). */
  def scale(smoke: Boolean): Double = if (smoke) 0.05 else 1.0

  /** Order-insensitive hash of a result; doubles and floats rounded to 9
    * significant digits so that a last-bit difference in a float sum does
    * not read as a wrong answer. */
  def hash(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
      case f: Float => v(f.toDouble)
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (a, b) => v(a) + "->" + v(b) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case o => o.toString
    }
    val md = MessageDigest.getInstance("MD5")
    rows.map(v).sorted.foreach(s => md.update((s + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def readExpected(path: Path, smoke: Boolean): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val f: DefaultFormats.type = DefaultFormats
    if (!Files.exists(path)) Map.empty
    else (JsonMethods.parse(Files.readString(path)) \ (if (smoke) "smoke" else "full"))
      .extractOpt[Map[String, String]].getOrElse(Map.empty)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val o = ctx.opts
    val t = ctx.tracer
    val sc = spark.sparkContext
    val recordTo = sys.props.get("perfbench.record")
    val expected = readExpected(o.root.resolve("perfbench/analytics_expected.json"), o.smoke)
    if (recordTo.isEmpty) {
      val missing = Queries.map(_._2).filterNot(expected.contains)
      require(missing.isEmpty, s"no recorded result hash for ${missing.mkString(", ")}")
    }
    val fns = Queries.map { case (_, q) => q -> graft.SparkEntry.queries(q) }.toMap
    val data = ctx.dir("analytics-data").toString

    // set-up, part 1: generate the tables
    val gen0 = System.nanoTime()
    AnalyticsData.write(spark, data, DataSeed, scale(o.smoke))
    ctx.result.info("datagen_s") = ((System.nanoTime() - gen0) / 1e9).toString

    val seen = mutable.HashMap.empty[String, mutable.Set[String]]
    def runQuery(q: String, group: String): Double = {
      val t0 = t.now()
      val rows = t.span("analytics.query", group) { id =>
        SparkCounters.tagged(sc, group, id)(fns(q)(spark, data).collect())
      }
      val ms = (t.now() - t0) / 1e6
      val h = hash(rows)
      seen.getOrElseUpdate(q, mutable.LinkedHashSet.empty) += h
      ctx.result.check(
        if (recordTo.isDefined) None
        else if (expected(q) != h) Some(s"$q: result hash $h, expected ${expected(q)}")
        else None)
      ms
    }

    // set-up, part 2: one untimed pass builds every derived zone and
    // compiles every query's generated code; a second one lets the JIT
    // compile the planner paths the queries take (without it the timed
    // passes ran 10-30 % slower)
    val zone0 = graft.ops.DerivedZone.processBuilds.get()
    var zoneBuildMs = 0.0
    Queries.foreach { case (_, q) =>
      val b0 = graft.ops.DerivedZone.processBuilds.get()
      val ms = runQuery(q, s"warm:$q")
      if (graft.ops.DerivedZone.processBuilds.get() > b0) zoneBuildMs += ms
    }
    Queries.foreach { case (_, q) => runQuery(q, s"warm2:$q") }
    val zonesBuilt = graft.ops.DerivedZone.processBuilds.get() - zone0
    System.gc()
    ctx.setupDone()

    // timed passes: every query once per pass, in a seeded order, while
    // another pass fits in the run's time
    val rnd = new java.util.Random(o.seed)
    val times = mutable.LinkedHashMap(Queries.map { case (_, q) => q -> mutable.ArrayBuffer.empty[Double] }: _*)
    val zoneTimed0 = graft.ops.DerivedZone.processBuilds.get()
    val start = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - start) / 1e9
    // a traced run traces the odd passes only and makes at least three,
    // so that each traced pass lies between two untraced ones: their
    // difference is the tracing overhead, with the JIT's progress from
    // pass to pass averaged out
    val passTotals = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val minPasses = if (t.on) 3 else 2
    var passes = 0
    while (passes < minPasses || elapsedS * (passes + 1) / passes <= o.seconds) {
      val traced = passes % 2 == 1
      System.gc()
      if (t.on) ctx.tracing(traced)
      val order = Queries.map(_._2).toArray
      java.util.Collections.shuffle(java.util.Arrays.asList(order: _*), rnd)
      passTotals += traced -> order.map(q => { val ms = runQuery(q, s"pass$passes:$q"); times(q) += ms; ms }).sum
      passes += 1
    }
    ctx.tracing(true)
    val zonesTimed = graft.ops.DerivedZone.processBuilds.get() - zoneTimed0
    if (zonesTimed != 0) ctx.result.check(Some(s"$zonesTimed derived-zone builds inside timed passes"))

    // a query whose result differs between runs in one process is wrong
    // whatever the recorded hash says
    seen.foreach { case (q, hs) =>
      if (hs.size > 1) ctx.result.check(Some(s"$q: ${hs.size} different result hashes in one run"))
    }
    recordTo.foreach { p =>
      val body = seen.toSeq.sortBy(_._1).map { case (q, hs) => s"${Json.str(q)}:${Json.str(hs.head)}" }
      Files.writeString(java.nio.file.Paths.get(p), body.mkString("{", ",", "}"))
    }

    // a query's time is its fastest timed pass: interference (the JIT
    // still compiling planner paths, other load on the host) only ever
    // adds time, so the minimum is the steadier estimate of its cost
    val best = times.map { case (q, xs) => q -> xs.min }
    val r = ctx.result
    r.info("passes") = passes.toString
    r.info("queries") = Queries.size.toString
    best.foreach { case (q, v) => r.info(s"best_ms.$q") = f"$v%.1f" }
    r.info("pass_ms") = passTotals.map(p => f"${p._2}%.0f").mkString(",")
    r.e2e("latency_p50_ms") = (Stats.median(best.values.toSeq), "ms")
    r.layer("latency_p95_ms") = (Stats.pct(best.values.toSeq, 0.95), "ms")
    // queries per second at each query's best time
    r.e2e("throughput_per_s") = (Queries.size / (best.values.sum / 1000), "1/s")

    if (t.on) {
      ctx.drain()
      val mod = Queries.map(_.swap).toMap
      r.layer("analytics.total_s") = (best.values.sum / 1000, "s")
      Modules.foreach { m =>
        r.layer(s"analytics.${m}_s") = (best.collect { case (q, v) if mod(q) == m => v }.sum / 1000, "s")
      }
      best.foreach { case (q, v) => r.layer(s"analytics.q.${q}_s") = (v / 1000, "s") }
      val tracedPasses = passTotals.count(_._1).toDouble
      val agg = ctx.counters.totals(_.startsWith("pass"))
      r.layer("analytics.shuffle_bytes") = (agg.shuffleRead / tracedPasses, "bytes")
      r.layer("analytics.spill_bytes") = (agg.spill / tracedPasses, "bytes")
      r.layer("analytics.gc_s") = (agg.gcMs / 1000.0 / tracedPasses, "s")
      r.layer("analytics.tasks") = (agg.tasks / tracedPasses, "count")
      r.layer("analytics.jobs") = (agg.jobs / tracedPasses, "count")
      val tracedWallS = passTotals.filter(_._1).map(_._2).sum / 1000
      r.layer("analytics.busy_share") = (agg.runMs / 1000.0 / (tracedWallS * o.cores), "ratio")
      r.layer("zone.build_s") = (zoneBuildMs / 1000, "s")
      r.layer("zone.builds") = (zonesBuilt.toDouble, "count")
      r.layer("zone.builds_timed") = (zonesTimed.toDouble, "count")
      val on = passTotals.filter(_._1).map(_._2)
      val off = passTotals.filterNot(_._1).map(_._2)
      r.layer("trace.overhead_pct") = ((Stats.median(on.toSeq) / Stats.median(off.toSeq) - 1) * 100, "%")
    }
  }
}
