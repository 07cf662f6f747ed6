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
}
