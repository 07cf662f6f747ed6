package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.compact.Compactor
import graft.search.{SearchQuery, SearchServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s.DefaultFormats
import org.json4s.jackson.JsonMethods

/** Server-side timings of one request. */
final case class Served(handleStart: Long, handleEnd: Long, planMs: Double,
                        execMs: Double, codegenMs: Double, rebuilt: Boolean)

/** A [[SearchServer]] that times its public entry points from outside:
  * `handle` (one request), `execute` (epoch read, snapshot-cache lookup or
  * rebuild, plan) and `executeJson` (plan plus collect and JSON). The
  * client announces each traced request's id under the (bucket, where,
  * cursor) it asks for ([[expect]]); `handle` takes the oldest id
  * announced for the request it parses and files the timings under it.
  * With tracing off it adds nothing to a request. */
final class TracedServer(spark: SparkSession, landing: String, staging: String, tracer: Tracer)
    extends SearchServer(spark, landing, staging, cacheTtlMillis = 24L * 3600 * 1000) {

  val served = new ConcurrentHashMap[Long, Served]()
  private val sc = spark.sparkContext
  private val announced = new ConcurrentHashMap[(String, String, Option[String]), ConcurrentLinkedQueue[Long]]()

  /** Announce that traced request `rid` is about to ask for `key`. */
  def expect(key: (String, String, Option[String]), rid: Long): Unit =
    announced.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[Long]()).add(rid)

  private def ridOf(request: String): Long = {
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = JsonMethods.parse(request)
    val key = ((j \ "bucket").extract[String], (j \ "where").extractOpt[String].getOrElse(""),
      (j \ "startKey").extractOpt[String])
    Option(announced.get(key)).flatMap(q => Option(q.poll())).getOrElse(0L)
  }
  private final class Acc(val span: Long, val group: String) {
    var planMs = 0.0
    var planEnd = 0L
    var rebuilt = false
  }
  private val current = new ThreadLocal[Acc]

  override def handle(request: String): (String, Boolean) = {
    if (!tracer.on || tracer.paused) return super.handle(request)
    val rid = ridOf(request)
    if (rid == 0L) return super.handle(request)
    val acc = new Acc(tracer.newId(), s"req:$rid")
    val cg0 = CodeGenerator.compileTime
    current.set(acc)
    val t0 = tracer.now()
    val res = try SparkCounters.tagged(sc, acc.group, acc.span)(super.handle(request))
      finally current.remove()
    val t1 = tracer.now()
    val totalMs = (t1 - t0) / 1e6
    served.put(rid, Served(t0, t1, acc.planMs, math.max(0.0, totalMs - acc.planMs),
      (CodeGenerator.compileTime - cg0) / 1e6, acc.rebuilt))
    tracer.record("search.handle", acc.group, rid, t0, t1, acc.span)
    if (acc.planEnd > 0) tracer.record("search.exec", acc.group, acc.span, acc.planEnd, t1)
    res
  }

  override def execute(q: SearchQuery): DataFrame = {
    val acc = current.get()
    if (acc == null) return super.execute(q)
    val r0 = snapshotRebuilds
    val t0 = tracer.now()
    val df = super.execute(q)
    val t1 = tracer.now()
    acc.planMs += (t1 - t0) / 1e6
    acc.planEnd = t1
    acc.rebuilt ||= snapshotRebuilds > r0
    tracer.record(if (acc.rebuilt) "snapshot.build" else "search.plan", acc.group, acc.span, t0, t1)
    df
  }
}

/** Times `Compactor.compactBucket` per bucket from outside. */
final class TimedCompactor(spark: SparkSession, landing: String, staging: String,
                           tracer: Tracer, tag: String, onBucket: (String, Seq[Long], Long, Long) => Unit)
    extends Compactor(spark, landing, staging) {
  var group = ""
  var parent = 0L
  override def compactBucket(bucket: String, numPartitions: Int, force: Boolean): Unit = {
    val groups = groupsToCompact(bucket, force)
    val span = if (tracer.on && !tracer.paused) tracer.newId() else 0L
    val t0 = tracer.now()
    SparkCounters.tagged(spark.sparkContext, s"$tag:$bucket:$group", span)(
      super.compactBucket(bucket, numPartitions, force))
    val t1 = tracer.now()
    tracer.record("compact.bucket", group, parent, t0, t1, span)
    onBucket(bucket, groups, t0, t1)
  }
}

/** HTTP client of the warm server. One JDK client serves every client
  * thread; it keeps a connection per concurrent request and reuses them
  * across phases, so no timed request pays for opening one. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def search(r: Req): String =
    http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
}

/** File counts and sizes of a zone directory (parquet data files only). */
object Dirs {
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
  def bytes(dir: Path): Long = files(dir).map(Files.size).sum
}
