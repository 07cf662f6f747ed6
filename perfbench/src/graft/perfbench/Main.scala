package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options `perfbench/run.py` passes to the JVM. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, smoke: Boolean, work: Path, out: Path,
                      spawnMs: Long, cores: Int, root: Path)

/** Everything one workload needs: the session, the options, the recorders. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
                val counters: SparkCounters) {
  val result = new Result
  /** Marks the end of set-up: the first timed operation starts now. */
  def setupDone(): Unit =
    result.e2e("setup_s") = ((System.currentTimeMillis() - opts.spawnMs) / 1000.0, "s")
  /** Switch span recording and Spark counters on or off (a traced run
    * measures some stretches untraced to estimate the tracing overhead). */
  def tracing(on: Boolean): Unit = {
    tracer.paused = !on
    counters.enabled = on
  }
  def drain(): Unit = org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext)
  def dir(name: String): Path = {
    val p = opts.work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Metrics and outcome counts of one run. `e2e` are the untraced
  * user-facing numbers, `layer` the traced per-module numbers. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted0 = 0L
  private var failed0 = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)

  /** Count one checked operation; `error` is why it failed, if it did. */
  def check(error: Option[String]): Unit = synchronized {
    attempted0 += 1
    error.foreach { e =>
      failed0 += 1
      if (failures.size < 20) failures += e
      System.err.println(s"[perfbench] FAILED: $e")
    }
  }

  def toJson: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val fl = failures.map(Json.str).mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"failures":$fl,""" +
      s""""e2e":${metrics(e2e)},"layer":${metrics(layer)},"info":$inf}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Sample statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]; 0 on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** `java -cp ... graft.perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE --spawn-ms EPOCH_MS [--smoke 1]`.
  *
  * Runs one workload in this process and writes one result JSON to
  * `--out`. Any exception exits non-zero without writing a result, so a
  * crashed run can never be read as a measurement.
  */
object Main {
  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      smoke = kv.get("smoke").contains("1"),
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath,
      spawnMs = kv.get("spawn-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      root = Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.graft.derived.dir", o.work.resolve("derived").toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("ckpt-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.deleteIfExists(o.out)
    var spark: SparkSession = null
    val code =
      try {
        spark = session(o)
        val tracer = new Tracer(o.trace)
        val counters = new SparkCounters
        spark.sparkContext.addSparkListener(counters)
        val ctx = new Ctx(spark, o, tracer, counters)
        o.workload match {
          case "search_warm" => SearchWarm.run(ctx)
          case "analytics_suite" => AnalyticsSuite.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.drain()
        val r = ctx.result
        r.info("spark_version") = spark.version
        r.info("heap_max_bytes") = Runtime.getRuntime.maxMemory.toString
        r.info("cores") = o.cores.toString
        if (o.trace) {
          r.layer("error_rate") = (Stats.ratio(r.failed.toDouble, r.attempted.toDouble), "ratio")
          tracer.write(o.work.resolve("spans.jsonl"), counters)
        }
        Files.write(o.out, r.toJson.getBytes(StandardCharsets.UTF_8))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] workload ${o.workload} crashed:")
          e.printStackTrace()
          Files.deleteIfExists(o.out)
          1
      } finally {
        if (spark != null) try spark.stop() catch { case _: Throwable => () }
      }
    System.exit(code)
  }
}
