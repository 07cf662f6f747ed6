package graft

import graft.analytics.EventOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants and plan shapes of the event-log operators
  * ([[graft.analytics.EventOps]]). Value-level correctness is gated by
  * the DuckDB crosscheck; these check estimates and per-user envelopes
  * against an independent recount of the same log and pin single-scan /
  * single-shuffle plans.
  */
class EventOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def fixtureDir(): String =
    SparkTestSession.tempDir("graft-events")

  test("approx_distinct_kmv estimate tracks the exact count") {
    val rows = EventOps.approxDistinctKmv(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1)
      if (!r.isNullAt(2)) {
        val est = r.getDouble(2)
        // KMV with k=32 has ~18% relative standard error; 2.5x is a loose
        // sanity band that still catches a broken estimator (off by 10x)
        assert(est > exact / 2.5 && est < exact * 2.5,
          s"${r.getString(0)}: est $est vs exact $exact")
      }
    }
  }

  test("events_moving_avg stays within the user's value envelope") {
    val df = EventOps.movingAvg(spark, sf)
    import org.apache.spark.sql.functions._
    val bad = df.join(
        Tables.events(spark, sf).groupBy("user_id")
          .agg(min("value").as("lo"), max("value").as("hi")),
        "user_id")
      .filter(col("avg_value") < col("lo") - 0.01 ||
        col("avg_value") > col("hi") + 0.01)
    assert(bad.count() == 0)
  }

  test("events_top_paths emits well-formed trigrams ordered by count") {
    val rows = EventOps.topPaths(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val types = Set("click", "signup", "error", "view", "purchase")
    rows.foreach { r =>
      val parts = r.getString(0).split(">")
      assert(parts.length == 3 && parts.forall(types.contains),
        s"malformed path: ${r.getString(0)}")
      assert(r.getLong(2) <= r.getLong(1), "n_users cannot exceed n")
    }
    val ns = rows.map(_.getLong(1)).toSeq
    assert(ns == ns.sorted.reverse, "paths must be ordered by count desc")
  }

  test("events_top_paths plans ONE user shuffle and a top-k, no self-joins") {
    val plan = EventOps.topPaths(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-20 must be a heap top-k")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"path mining must not plan adjacency self-joins:\n$plan")
  }

  test("events_funnel scans the event log once and shuffles it once") {
    // regression pin for the round-8 rewrite: the old stage-chain form
    // planned a cascade that re-scanned and re-shuffled events per stage
    // (10 stage evaluations for 4 stages). The recurrence form must keep
    // ONE scan of the events source and ONE user-keyed hash exchange
    // (plus the final presentation range exchange for orderBy).
    val plan = EventOps.funnel(spark, sf).queryExecution.executedPlan.toString
    val eventScans = "(?i)filescan parquet [^\\n]*events".r.findAllIn(plan).size
    assert(eventScans == 1, s"expected ONE events scan, got $eventScans:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected ONE user-keyed hash exchange, got $hashExchanges:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"funnel must not plan stage joins at all:\n$plan")
  }

  test("events_bot_detect: top-20 shape and per-user recount") {
    import graft.analytics.EventOps
    val out = EventOps.botDetect(spark, sf).collect()
    val nUsers = Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(out.length == math.min(20L, nUsers))
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to out.length))
    // ordering: rate desc, events desc, user asc (collect avoids the
    // one-user corpus edge where sliding(2) yields a length-1 window)
    out.toSeq.sliding(2).collect { case Seq(a, b) =>
      val ka = (a.getAs[Long]("rate_per_ksec"), a.getAs[Long]("n_events"))
      val kb = (b.getAs[Long]("rate_per_ksec"), b.getAs[Long]("n_events"))
      assert(ka._1 > kb._1 || (ka._1 == kb._1 &&
        (ka._2 > kb._2 || (ka._2 == kb._2 &&
          a.getAs[Long]("user_id") < b.getAs[Long]("user_id")))))
    }.toList
    // recount the #1 user's columns from the raw log
    val top = out.head
    val uid = top.getAs[Long]("user_id")
    val secs = Tables.events(spark, sf)
      .filter(col("user_id") === uid)
      .select(expr("ts div 1000000000L")).collect().map(_.getLong(0))
    val span = secs.max - secs.min
    assert(top.getAs[Long]("n_events") == secs.length)
    assert(top.getAs[Long]("active_sec") == span)
    assert(top.getAs[Long]("n_active_hours") == secs.map(_ / 3600).distinct.length)
    assert(top.getAs[Long]("rate_per_ksec") == secs.length * 1000L / math.max(span, 1))
    assert(top.getAs[Long]("events_per_hour") ==
      secs.length / secs.map(_ / 3600).distinct.length)
  }

  test("events_markov rows are a probability distribution per current type") {
    val rows = EventOps.markov(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    for ((t, rs) <- byType) {
      val mass = rs.map(_.getDouble(3)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"P(next|$t) sums to $mass, not 1")
    }
    // transition count conservation: every event with a successor is
    // counted exactly once — totals must equal events minus each user's
    // final event
    val nTransitions = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(nTransitions == expected,
      s"transition mass $nTransitions != events - users = $expected")
  }

  test("events_value_histogram tiles the event count and the value total") {
    val rows = EventOps.valueHistogram(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    assert(rows.map(_.getLong(3)).sum == ev.count(),
      "histogram bucket counts must tile the event count exactly")
    // exact-cents identity: Σ bucket totals == Σ cents / 100 (both exact
    // longs until the single final division)
    val totalCents = ev.select(sum(Tables.cents(col("value")))).head().getLong(0)
    val bucketCents = rows.map(r => math.round(r.getDouble(4) * 100)).sum
    assert(bucketCents == totalCents,
      s"bucket value mass $bucketCents != corpus total $totalCents")
    // buckets are $10 wide: bucket_lo must be 10 × bucket
    assert(rows.forall(r => r.getDouble(2) == r.getLong(1) * 10.0))
  }

  test("events_inactivity: dormancy is anchored to the stream head and gaps to real events") {
    val rows = EventOps.inactivity(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    assert(rows.length.toLong == ev.select("user_id").distinct().count())
    assert(rows.map(_.getLong(1)).sum == ev.count(), "per-user counts must tile")
    // at least one user is active at the head (dormant 0); none negative
    assert(rows.exists(_.getLong(3) == 0L), "head user must be 0-dormant")
    assert(rows.forall(r => r.getLong(2) >= 0 && r.getLong(3) >= 0))
    // a single-event user (if any) must report gap 0; max_gap bounded by span
    val span = {
      val mm = ev.agg(min(expr("ts div 1000000000")), max(expr("ts div 1000000000"))).head()
      mm.getLong(1) - mm.getLong(0)
    }
    assert(rows.forall(_.getLong(2) <= span))
  }
  test("slidingDistinct slot form ≡ window()/countDistinct form with real duplicates") {
    import spark.implicits._
    val dir = fixtureDir()
    def ns(sec: Long): Long = sec * 1000000000L
    // user 1: two events in ONE slot (dedup within slot), plus a second
    // slot whose 4 windows overlap the first's (dedup across slots
    // within a shared window). user 2: a distant slot. user 3: shares
    // user 1's second slot (distinct users per window > 1).
    Seq(
      (1L, ns(10)), (1L, ns(20)), (1L, ns(910)),
      (2L, ns(7200)), (3L, ns(905)))
      .toDF("user_id", "ts").write.parquet(s"$dir/events.parquet")

    val got = analytics.EventOps.slidingDistinct(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // the round-14 formulation, inline, on the same events frame
    val reference = Tables.events(spark, dir)
      .withColumn("sec", expr("ts div 1000000000"))
      .groupBy(window(timestamp_seconds(col("sec")), "1 hour", "15 minutes"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(Tables.tsStr(col("window.start")).as("window_start"), col("n_users"))
      .orderBy("window_start")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == reference)
    // spot-pin one collapse the fixture was built for: slot 0 and slot 1
    // share window [start=-2700 .. 0 .. ], and user 1 appears in both
    // slots but must count once per window
    assert(got.nonEmpty && reference.nonEmpty)
  }

  test("events_growth: classes partition actives; totals reconcile with the log") {
    import graft.analytics.EventOps
    val out = EventOps.growth(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_active") ==
        r.getAs[Long]("n_new") + r.getAs[Long]("n_retained") +
          r.getAs[Long]("n_resurrected"))
    }
    // every user is new exactly once
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n_new")).sum == users)
    // per-day actives equal a direct distinct recount
    val direct = Tables.events(spark, sf)
      .select(col("user_id"),
        date_format(timestamp_seconds(expr("ts div 1000000000")), "yyyy-MM-dd").as("day"))
      .distinct().groupBy("day").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r =>
      assert(r.getAs[Long]("n_active") == direct(r.getAs[String]("day"))))
  }

  test("events_cooccurrence: lift recomputes from the marginals; bounds hold") {
    import graft.analytics.EventOps
    val out = EventOps.cooccurrence(spark, sf).collect()
    assert(out.nonEmpty)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    out.foreach { r =>
      val (both, na, nb) = (r.getAs[Long]("n_both"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(both <= math.min(na, nb))
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      val lift = math.rint(both.toDouble * users / (na.toDouble * nb) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-9)
    }
  }

  test("events_stickiness: DAU ≤ MAU, window recount matches for every day") {
    import graft.analytics.EventOps
    val out = EventOps.stickiness(spark, sf).collect()
    assert(out.nonEmpty)
    // independent recount from the raw log
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000000000 div 86400").as("eday"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val days = ud.map(_._2).distinct.sorted
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val expect = days.map { d =>
      val label = java.time.LocalDate.ofEpochDay(d).format(fmt)
      val dau = ud.count(_._2 == d).toLong
      val mau = ud.filter(t => t._2 <= d && t._2 > d - 30).map(_._1).distinct.length.toLong
      label -> ((dau, mau))
    }.toMap
    assert(out.length == days.length)
    out.foreach { r =>
      val (d, m) = expect(r.getAs[String]("day"))
      assert(r.getAs[Long]("dau") == d && r.getAs[Long]("mau") == m)
      assert(d <= m)
      assert(r.getAs[Long]("stickiness_ppm") == d * 1000000L / m)
    }
  }

  test("events_seasonality: cells bounded, shares exact, counts recount") {
    import graft.analytics.EventOps
    val out = EventOps.seasonality(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 168)
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, sf).count())
    out.foreach { r =>
      assert(r.getAs[Long]("day_of_week") >= 0 && r.getAs[Long]("day_of_week") <= 6)
      assert(r.getAs[Long]("hour_of_day") >= 0 && r.getAs[Long]("hour_of_day") <= 23)
      assert(r.getAs[Long]("share_ppm") == r.getAs[Long]("n") * 1000000L / total)
    }
    // 2024-01-01 (the stream head) was a Monday = day 1
    val direct = Tables.events(spark, sf)
      .select(expr("(ts div 1000000000 div 86400 + 4) % 7").as("dw"))
      .groupBy("dw").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDw = out.groupBy(_.getAs[Long]("day_of_week"))
      .view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    assert(byDw == direct)
  }

  test("events_concentration: decades reconcile with a naive sorted recount") {
    import graft.analytics.EventOps
    val out = EventOps.concentration(spark, sf).collect()
    assert(out.nonEmpty)
    // naive recount: sort user counts desc, take ranks 1..999, bucket by
    // rank length — ties interchangeable for every emitted statistic
    val counts = Tables.events(spark, sf)
      .groupBy("user_id").count().collect().map(_.getLong(1)).sortBy(-_)
    val total = counts.sum
    val byDecade = counts.take(999).zipWithIndex
      .groupBy { case (_, i) => (i + 1).toString.length }
      .view.mapValues(v => (v.length.toLong, v.map(_._1).sum)).toMap
    assert(out.length == byDecade.size)
    out.foreach { r =>
      val (nu, ne) = byDecade(r.getAs[Int]("decade"))
      assert(r.getAs[Long]("n_users") == nu)
      assert(r.getAs[Long]("n_events") == ne)
      assert(r.getAs[Long]("share_ppm") == ne * 1000000L / total)
    }
  }
}
