package graft

import graft.analytics.Relational
import org.apache.spark.sql.functions._
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

  private def fixtureDir(): String =
    SparkTestSession.tempDir("graft-relational")

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
  test("dominantSuppliers argmax form ≡ join-back form where majorities exist") {
    import spark.implicits._
    val dir = fixtureDir()
    // p1 (red): s10 has a strict majority (60 of 90). p2 (red): exact
    // 50/50 tie — NO majority, must not appear. p3 (blue): excluded by
    // the name filter. p4 (red): sole supplier — trivially dominant.
    Seq(
      (1L, 10L, 20.0), (1L, 10L, 40.0), (1L, 11L, 30.0),
      (2L, 10L, 50.0), (2L, 11L, 50.0),
      (3L, 12L, 100.0),
      (4L, 11L, 5.0))
      .toDF("l_partkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "red part one"), (2L, "red part two"), (3L, "blue part"),
      (4L, "red part four"))
      .toDF("p_partkey", "p_name").write.parquet(s"$dir/part.parquet")
    Seq((10L, "S10"), (11L, "S11"), (12L, "S12"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$dir/supplier.parquet")

    val got = analytics.Relational.dominantSuppliers(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((10L, "S10", 1L), (11L, "S11", 1L)))

    // the round-14 join-back formulation, inline, on the same frames
    val lf = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        Tables.cents(col("l_quantity")).as("qty_c"))
      .join(Tables.part(spark, dir).filter(col("p_name").startsWith("red"))
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val perPair = lf.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("qty_c")).as("pair_qty_c"))
    val perPart = perPair.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("pair_qty_c")).as("part_qty_c"))
    val reference = perPair.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("pair_qty_c") * 2L > col("part_qty_c"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_parts_dominated"))
      .join(Tables.supplier(spark, dir), col("s_suppkey") === col("l_suppkey"))
      .select("s_suppkey", "s_name", "n_parts_dominated")
      .orderBy("s_suppkey")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == reference)
  }
}
