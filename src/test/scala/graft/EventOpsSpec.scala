package graft

import graft.analytics.EventOps
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
}
