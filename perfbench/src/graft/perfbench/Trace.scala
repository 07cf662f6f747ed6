package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Spans of one request, cycle or
  * query share `group`; `parent` is the span that caused this one (0 for
  * a root). Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, group: String, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. With tracing off nothing is stored; the
  * workloads still time their own end-to-end operations. */
final class Tracer(val on: Boolean) {
  /** Set while the traced run measures a stretch untraced, to estimate
    * the overhead of tracing. */
  @volatile var paused = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()

  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  def newId(): Long = ids.incrementAndGet()

  def record(name: String, group: String, parent: Long, start: Long, end: Long,
             id: Long = 0L): Long =
    if (!on || paused) 0L
    else {
      val sid = if (id == 0L) newId() else id
      spans.add(Span(sid, parent, group, name, start, end))
      sid
    }

  /** Time `f` as a span; `f` receives the span's id for its children. */
  def span[A](name: String, group: String, parent: Long = 0L)(f: Long => A): A = {
    val id = if (on && !paused) newId() else 0L
    val t0 = now()
    try f(id) finally record(name, group, parent, t0, now(), id)
  }

  /** Write every span (harness spans plus Spark job and stage spans from
    * the listener) as JSON lines. */
  def write(path: Path, counters: SparkCounters): Unit = {
    val sb = new StringBuilder
    def line(s: Span): Unit =
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n"
    spans.asScala.toSeq.sortBy(_.start).foreach(line)
    counters.jobSpans(newId).foreach(line)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Task-metric totals over a set of stages. */
final case class Agg(tasks: Long = 0, runMs: Long = 0, gcMs: Long = 0,
                     shuffleRead: Long = 0, shuffleWrite: Long = 0,
                     spill: Long = 0, inRecords: Long = 0, outRecords: Long = 0,
                     outBytes: Long = 0, jobs: Long = 0) {
  def +(o: Agg): Agg = Agg(tasks + o.tasks, runMs + o.runMs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite, spill + o.spill,
    inRecords + o.inRecords, outRecords + o.outRecords, outBytes + o.outBytes,
    jobs + o.jobs)
}

/** Harness-registered listener: task, shuffle, spill and GC counts per
  * Spark job, attributed to the harness span that launched the job through
  * the `perfbench.group` / `perfbench.span` local properties. */
final class SparkCounters extends SparkListener {
  import SparkCounters.{JobRec, StageRec}

  /** Events are ignored while false (untraced stretches of a traced run). */
  @volatile var enabled = true
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty(SparkCounters.GroupProp))).getOrElse("")
    val parent = p.flatMap(x => Option(x.getProperty(SparkCounters.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = JobRec(e.jobId, group, parent, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, StageRec(0L, 0L, Agg()))
    s.start = i.submissionTime.getOrElse(0L)
    s.end = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElseUpdate(e.stageId, StageRec(0L, 0L, Agg()))
    s.agg = s.agg + (if (m == null) Agg(tasks = 1) else Agg(
      tasks = 1,
      runMs = m.executorRunTime,
      gcMs = m.jvmGCTime,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      inRecords = m.inputMetrics.recordsRead,
      outRecords = m.outputMetrics.recordsWritten,
      outBytes = m.outputMetrics.bytesWritten))
  }

  /** Totals over the jobs whose group satisfies `pred`. Drain the
    * listener bus first ([[org.apache.spark.graftbench.ListenerDrain]]). */
  def totals(pred: String => Boolean): Agg = synchronized {
    jobs.values.filter(j => pred(j.group)).foldLeft(Agg()) { (acc, j) =>
      j.stages.flatMap(stages.get).foldLeft(acc + Agg(jobs = 1))(_ + _.agg)
    }
  }

  def jobSpans(newId: () => Long): Seq[Span] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      val jid = newId()
      Span(jid, j.parent, j.group, "spark.job", j.start * 1000000L, j.end * 1000000L) +:
        j.stages.flatMap(st => stages.get(st).filter(_.end > 0).map(s =>
          Span(newId(), jid, j.group, s"spark.stage", s.start * 1000000L, s.end * 1000000L)))
    }
  }
}

object SparkCounters {
  private final case class JobRec(id: Int, group: String, parent: Long,
                                  start: Long, var end: Long, stages: Seq[Int])
  private final case class StageRec(var start: Long, var end: Long, var agg: Agg)

  val GroupProp = "perfbench.group"
  val SpanProp = "perfbench.span"

  /** Attribute the Spark jobs `f` launches on this thread to a span. */
  def tagged[A](sc: SparkContext, group: String, span: Long)(f: => A): A = {
    val g0 = sc.getLocalProperty(GroupProp)
    val s0 = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(GroupProp, group)
    sc.setLocalProperty(SpanProp, span.toString)
    try f finally {
      sc.setLocalProperty(GroupProp, g0)
      sc.setLocalProperty(SpanProp, s0)
    }
  }
}
