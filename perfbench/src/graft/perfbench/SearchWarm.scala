package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.search.HttpSearchServer

/** `search_warm`: clueso's production mode. Buckets are pre-populated
  * through ingest and compaction (landing plus staging, with overwrites
  * and deletes); a warm `HttpSearchServer` then answers an open-loop
  * stream of searches at a fixed rate, followed by a closed loop of one
  * client per core. Every answer is checked against the generator's model. */
object SearchWarm {

  final case class Size(buckets: Int, lines: Int, rate: Double, warmRequests: Int)

  def size(smoke: Boolean): Size =
    if (smoke) Size(buckets = 3, lines = 3000, rate = 3, warmRequests = 8)
    else Size(buckets = 3, lines = 8000, rate = 3.5, warmRequests = 64)

  /** Share of the run spent in the open loop; the rest is the closed loop. */
  val OpenShare = 0.6

  private final case class Sample(req: Req, rid: Long, due: Long, sent: Long, done: Long, rows: Int)

  /** Run `body` on `n` threads and wait for all; rethrows the first failure. */
  private def onThreads(n: Int)(body: () => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { _ =>
      val th = new Thread(() => try body() catch { case e: Throwable => errors.add(e) })
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Bucket popularity: Zipf with exponent 1 over the buckets. */
  def weights(n: Int): IndexedSeq[Double] = {
    val w = (1 to n).map(1.0 / _)
    w.map(_ / w.sum)
  }

  /** Ingest a seeded history into fresh zones and compact it, then ingest
    * a second wave of overwrites and deletes that stays in landing. */
  def populate(ctx: Ctx, root: java.nio.file.Path, sz: Size): Zones = {
    val buckets = (0 until sz.buckets).map(i => f"bucket$i%02d")
    val gen = new JournalGen(ctx.opts.seed, buckets)
    val z = new Zones(ctx, root, gen)
    val span = ctx.tracer.newId()
    val t0 = ctx.tracer.now()
    z.ingest(1, "populate", span)(buckets.zip(weights(sz.buckets)).flatMap { case (b, w) =>
      gen.lines((sz.lines * w).toInt, IndexedSeq(b), overwrite = 0.15, delete = 0.05, drop = 0.04)
    })
    z.compact("populate", span)
    z.ingest(1, "populate", span)(gen.lines(sz.lines / 4, buckets, overwrite = 0.4, delete = 0.15, drop = 0.04))
    ctx.tracer.record("populate", "populate", 0L, t0, ctx.tracer.now(), span)
    z
  }

  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    val t = ctx.tracer
    val sz = size(o.smoke)

    val zones = populate(ctx, ctx.dir("search-warm"), sz)
    val gen = zones.gen
    val server = new TracedServer(ctx.spark, zones.landing.toString, zones.staging.toString, t)
    val http = new HttpSearchServer(server, 0)
    val pool = Executors.newFixedThreadPool(o.cores)
    try {
      val client = new Client(http.boundPort)
      // bucket popularity: each block of about 24 listings holds every
      // bucket in its Zipf share, in a seeded order
      val block = weights(sz.buckets).zipWithIndex.flatMap { case (w, b) =>
        Seq.fill(math.round(w * 24).toInt)(gen.buckets(b)) }
      val shuffler = new scala.util.Random(o.seed)
      val order = Iterator.continually(shuffler.shuffle(block)).flatten
      val requests = Iterator.from(0).flatMap(i => gen.listing(order.next(), i)).take(3000).toIndexedSeq
      val next0 = new AtomicInteger(0)
      val ridSeq = new AtomicLong(1L << 40)
      val samples = new ConcurrentLinkedQueue[Sample]()

      def send(r: Req, due: Long): Sample = {
        val traced = t.on && !t.paused
        val rid = if (traced) t.newId() else ridSeq.incrementAndGet()
        if (traced) server.expect(r.key, rid)
        val sent = t.now()
        val answer = client.search(r)
        val done = t.now()
        val want = gen.expected(r)
        ctx.result.check(JournalGen.verify(answer, r, want))
        val s = Sample(r, rid, due, sent, done, want.size)
        t.record("search.request", s"req:$rid", 0L, due, done, rid)
        t.record("search.queue", s"req:$rid", rid, sent,
          Option(server.served.get(rid)).map(_.handleStart).getOrElse(sent))
        s
      }

      // warm-up: build every bucket's snapshot (cold), then serve
      // searches closed loop so that the JIT has compiled the serving
      // path before anything is timed (latencies kept falling for ~20 s
      // of serving without it)
      val cold = gen.buckets.map { b =>
        val s = send(gen.listing(b, 0).head, t.now())
        (s.rid, gen.live(b).size, if (t.on) zones.bucketFiles(b) else 0)
      }
      onThreads(o.cores) { () =>
        var i = next0.getAndIncrement()
        while (i < sz.warmRequests) {
          send(requests(requests.size - 1 - i), t.now())
          i = next0.getAndIncrement()
        }
      }
      val rebuilds0 = server.snapshotRebuilds
      System.gc()
      ctx.setupDone()

      // open loop: fixed-rate sends, each timed from its scheduled time
      val openS = o.seconds * OpenShare
      val n = math.max(1, (sz.rate * openS).toInt)
      val periodNs = (1e9 / sz.rate).toLong
      val late = new Array[Double](n)
      val sends = mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
      val t0 = t.now() + 20000000L
      (0 until n).foreach { i =>
        val due = t0 + i * periodNs
        var now = t.now()
        while (now < due) { LockSupport.parkNanos(due - now); now = t.now() }
        late(i) = (now - due) / 1e6
        val r = requests(i % requests.size)
        sends += pool.submit(new Runnable { def run(): Unit = samples.add(send(r, due)) })
      }
      pool.shutdown()
      require(pool.awaitTermination(120, TimeUnit.SECONDS), "open loop did not drain")
      sends.foreach(_.get()) // rethrows a failed send
      val open = samples.asScala.toSeq
      val openEnd = t.now()

      // closed loop: one client per core, next request when the last returns;
      // a traced run alternates traced and untraced quarters
      val closedS = o.seconds - openS
      val segments = if (t.on) 4 else 1
      val next = new AtomicInteger(n)
      val segQps = mutable.ArrayBuffer.empty[(Boolean, Double, Double, Seq[Long])]
      (0 until segments).foreach { seg =>
        val traced = seg % 2 == 0
        if (t.on) ctx.tracing(traced)
        val done = new AtomicInteger(0)
        val rids = new ConcurrentLinkedQueue[Long]()
        val s0 = t.now()
        val deadline = s0 + (closedS / segments * 1e9).toLong
        onThreads(o.cores) { () =>
          while (t.now() < deadline) {
            val s = send(requests(next.getAndIncrement() % requests.size), t.now())
            rids.add(s.rid)
            done.incrementAndGet()
          }
        }
        val wallS = (t.now() - s0) / 1e9
        segQps += ((traced, done.get / wallS, wallS, rids.asScala.toSeq))
      }
      ctx.tracing(true)
      val timedRequests = next.get
      val rebuilt = server.snapshotRebuilds - rebuilds0

      val lat = open.map(s => (s.done - s.due) / 1e6)
      val r = ctx.result
      r.e2e("latency_p50_ms") = (Stats.median(lat), "ms")
      r.layer("latency_p95_ms") = (Stats.pct(lat, 0.95), "ms")
      r.e2e("throughput_per_s") = (segQps.map(s => s._2 * s._3).sum / segQps.map(_._3).sum, "1/s")
      r.info("open_samples") = open.size.toString
      r.info("open_latency_ms") = open.sortBy(_.due).map(s => f"${(s.done - s.due) / 1e6}%.0f").mkString(",")
      r.info("rows_per_page") = open.sortBy(_.due).map(_.rows).mkString(",")
      r.info("open_rate_per_s") = sz.rate.toString
      r.info("loadgen_late_p99_ms") = Stats.pct(late.toSeq, 0.99).toString
      r.info("open_wall_s") = ((openEnd - t0) / 1e9).toString

      if (t.on) {
        ctx.drain()
        val sv = open.flatMap(s => Option(server.served.get(s.rid)).map(s -> _))
        r.layer("search.samples") = (open.size.toDouble, "count")
        r.layer("search.queue_ms") = (Stats.median(sv.map { case (s, v) => (v.handleStart - s.sent) / 1e6 }), "ms")
        r.layer("search.handle_ms") = (Stats.median(sv.map { case (_, v) => (v.handleEnd - v.handleStart) / 1e6 }), "ms")
        r.layer("search.plan_ms") = (Stats.median(sv.map(_._2.planMs)), "ms")
        r.layer("search.exec_ms") = (Stats.median(sv.map(_._2.execMs)), "ms")
        r.layer("search.http_ms") = (Stats.median(sv.map { case (s, v) =>
          (s.done - s.sent - (v.handleEnd - v.handleStart)) / 1e6 }), "ms")
        r.layer("search.codegen_ms") = (sv.map(_._2.codegenMs).sum / math.max(1, sv.size), "ms")
        val openRids = sv.map(x => s"req:${x._1.rid}").toSet
        val agg = ctx.counters.totals(openRids.contains)
        r.layer("search.jobs_per_req") = (Stats.ratio(agg.jobs.toDouble, sv.size.toDouble), "count")
        r.layer("search.tasks_per_req") = (Stats.ratio(agg.tasks.toDouble, sv.size.toDouble), "count")
        r.layer("search.rows_per_req") = (open.map(_.rows).sum.toDouble / math.max(1, open.size), "count")
        val tracedSegs = segQps.filter(_._1)
        val busy = tracedSegs.flatMap(_._4).flatMap(id => Option(server.served.get(id)))
          .map(v => (v.handleEnd - v.handleStart) / 1e9).sum
        r.layer("search.busy_share") = (busy / tracedSegs.map(_._3).sum, "ratio")
        r.layer("cache.hit_ratio") = (1.0 - Stats.ratio(rebuilt.toDouble, timedRequests.toDouble), "ratio")
        r.layer("loadgen.late_p50_ms") = (Stats.median(late.toSeq), "ms")
        r.layer("loadgen.late_p99_ms") = (Stats.pct(late.toSeq, 0.99), "ms")
        val on = segQps.filter(_._1).map(_._2)
        val off = segQps.filterNot(_._1).map(_._2)
        r.layer("trace.overhead_pct") = ((Stats.median(off.toSeq) / Stats.median(on.toSeq) - 1) * 100, "%")
        // the write side and the snapshot merge, as set-up exercised them
        zones.report(r)
        zones.reportSnapshots(r, server, cold)
      }
    } finally {
      pool.shutdownNow()
      http.close()
      server.close()
    }
  }
}
