package graft.analytics

import graft.Tables
import graft.Tables.{cents, tsStr}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics suite — the engine's general-purpose query surface
  * (SURVEY.md §2.2).
  *
  * Scale notes (100 TB posture):
  *  - Broadcast policy is AQE-FIRST: explicit `broadcast()` hints are
  *    reserved for relations whose size is INVARIANT in SF — the fixed
  *    dims (region, nation) and single-row scalar aggregates. Everything
  *    that grows with the data (customer, supplier, part, filtered fact
  *    slices, fact-derived key sets) joins hint-free: AQE broadcasts it
  *    at runtime while it measures small and degrades to a shuffled join
  *    at 100× — a forced hint on an SF-scaled side is a driver OOM /
  *    broadcast timeout waiting for scale to arrive.
  *  - Money math is exact integer cents (see [[graft.Tables.cents]]); sums
  *    are map-side partially aggregated longs.
  *  - Top-k uses `orderBy().limit()` which Spark plans as
  *    TakeOrderedAndProject — no global sort materialization.
  */
object Relational {

  /** TPC-H Q1 shape: wide grouped aggregation over the fact table.
    * One shuffle, partial aggregation on the map side.
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-01"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_c"),
        cents(col("l_tax")).as("tax_c"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum(col("qty_c")) / 100.0).as("sum_qty"),
        (sum(col("price_c")) / 100.0).as("sum_base_price"),
        (sum(col("price_c") * (lit(100L) - col("disc_c"))) / 10000.0).as("sum_disc_price"),
        (sum(col("price_c") * (lit(100L) - col("disc_c")) * (lit(100L) + col("tax_c"))) / 1000000.0).as("sum_charge"),
        (sum(col("qty_c")) / (lit(100.0) * count(lit(1)))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1AggSql: String =
    """WITH l AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(round(l_quantity*100) AS BIGINT)      AS qty_c,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
      |         CAST(round(l_discount*100) AS BIGINT)      AS disc_c,
      |         CAST(round(l_tax*100) AS BIGINT)           AS tax_c
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00')
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sum(qty_c) AS BIGINT)/100.0 AS sum_qty,
      |       CAST(sum(price_c) AS BIGINT)/100.0 AS sum_base_price,
      |       CAST(sum(price_c*(100-disc_c)) AS BIGINT)/10000.0 AS sum_disc_price,
      |       CAST(sum(price_c*(100-disc_c)*(100+tax_c)) AS BIGINT)/1000000.0 AS sum_charge,
      |       CAST(sum(qty_c) AS BIGINT)/(100.0*count(*)) AS avg_qty,
      |       count(*) AS count_order
      |FROM l GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
    * Customer side is broadcast after its segment filter.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    // Round 15 (guide §3.3): fold the BUILDING-segment customer filter
    // into ORDERS before the fact join — the previous order
    // ((l⋈o)⋈c) shuffled the joined fact stream a second time on
    // custkey just to discard ~4/5 of it; joining o⋈c first reduces the
    // orders side ~5× before the only fact-fact exchange, and the
    // custkey exchange now moves slim order rows instead of joined
    // lineitem rows. Inner joins commute; the result is unchanged.
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-01-01"))
      .join(c, col("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1998-01-01"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), tsStr(col("o_orderdate")).as("orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3JoinSql: String =
    """SELECT l_orderkey,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue,
      |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
      |       o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: snowflake join over the full dim chain with broadcast
    * dims; revenue by nation.
    */
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    // The region filter is the query's only selective dimension predicate
    // (ASIA = 5 of 25 nations), but it sits two dimension hops away from
    // both fact tables, and Catalyst cannot infer `s_nationkey ∈ ASIA` /
    // `c_nationkey ∈ ASIA` transitively — written naively, the plan
    // shuffles the ENTIRE lineitem table for the l⋈o join and only then
    // discards 80% of it (measured at sf30: the date-filtered orders side
    // outgrows the broadcast threshold, AQE falls back to a sort-merge
    // join fed by an 18M-row lineitem shuffle, 10× the sf10 wall for 3×
    // data). So resolve region→nation ONCE (5 rows) and fold it into both
    // SF-fixed-but-growing dims BEFORE the facts move: lineitem joins the
    // ASIA-only supplier slice and orders joins the ASIA-only customer
    // slice map-side (AQE broadcasts while they fit, shuffles on their
    // own keys at 1000×), so the orderkey shuffle carries only the ~20%
    // of each fact stream that can still contribute. The shared-nation
    // equality (c_nationkey = s_nationkey) is pulled into the equi-join
    // keys by ExtractEquiJoinKeys, so the final exchange hashes on
    // (orderkey, nationkey) rather than orderkey alone — a wider key but
    // still exactly one exchange per side, and orderkey's cardinality
    // dominates the distribution, so co-partitioning quality is the same.
    val asia = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sAsia = Tables.supplier(spark, dir)
      .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val cAsia = Tables.customer(spark, dir)
      .join(broadcast(asia.select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"), "left_semi")
      .select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .join(cAsia, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val l = Tables.lineitem(spark, dir)
      .join(sAsia, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("s_nationkey"), col("n_name"))
    l.join(o, l("l_orderkey") === o("o_orderkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5JoinSql: String =
    """SELECT n_name,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Ranked window top-k per group: top 3 orders per customer by price.
    * Exact-cents ordering with orderkey tiebreak keeps ranks deterministic.
    */
  def windowTopK(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_c"))
    val w = Window.partitionBy("o_custkey").orderBy(col("price_c").desc, col("o_orderkey"))
    o.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), (col("price_c") / 100.0).as("totalprice"))
      .orderBy("o_custkey", "rank")
  }

  val windowTopKSql: String =
    """SELECT o_custkey, rank, o_orderkey, price_c/100.0 AS totalprice FROM (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS rank
      |  FROM orders) t
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin

  /** Anti join: customers with no order above $100k. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 100000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Semi join: customers holding at least one urgent order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"), (cents(col("c_acctbal")) / 100.0).as("acctbal"))
      .orderBy("c_custkey")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_mktsegment,
      |       CAST(round(c_acctbal*100) AS BIGINT)/100.0 AS acctbal
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Hierarchical ROLLUP over (returnflag, linestatus); rollup nulls are
    * rendered as 'ALL' so ordering/NULL semantics can't diverge.
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), cents(col("l_quantity")).as("qty_c"))
    l.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(col("qty_c")) / 100.0).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")
  }

  val rollupAggSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** TPC-H Q14 shape: promo-revenue share per ship month — conditional
    * aggregation over the fact table against the PROMO SLICE of `part`.
    * All revenue is exact integer (cents × basis-point) math; the share
    * is one double division of exact longs, so both engines agree
    * bit-for-bit.
    *
    * Plan shape (the ×1000 cliff fix): the first cut joined the fact to
    * the FULL part dim carrying an `is_promo` flag — at ×1000 the 2M-row
    * dim outgrows every broadcast path, so AQE left a SortMergeJoin that
    * hash-exchanges AND SORTS all 60M fact rows (month string + revenue
    * payload) on `l_partkey`: 16.1 s at ×300 → 109/222 s at ×1000, the
    * sort spilling (AQE-final plan read on `.bench/x1000`,
    * 2026-08-14). Since every fact row survives the join (`p_partkey` is
    * the dim's key), the flag join only needs the rows where the flag is
    * TRUE: resolve the `p_type = 'ECONOMY'` predicate into the dim slice
    * FIRST (1/6 of the dim, one key + a literal) and left-outer join the
    * fact to that with a SHUFFLE_HASH build on the slice. Measured
    * nuance: AQE did NOT convert the slice join to broadcast at ×1000
    * even at ~3 MB runtime size (final plan read on `.bench/x1000`,
    * 2026-08-14, kept the SortMergeJoin), so the hint does what the
    * runtime conversion was hoped to — the fact side still
    * hash-exchanges once, but never SORTS: the slice builds a
    * per-partition hash map (~10k keys/partition at ×1000) and the fact
    * stream probes it. That stays true at ANY scale factor — the build
    * side is always the 1/6 dim slice partitioned on its own key, so
    * there is no broadcast ceiling to fall off and no fact sort to
    * spill; the only other exchange is the ~84-row month aggregate after
    * map-side partial agg. A missing match leaves `is_promo` null, which
    * `when(col("is_promo"), …)` routes to the `otherwise(0)` branch,
    * preserving the conditional-agg semantics bit-for-bit. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_partkey"),
      date_format(col("l_shipdate"), "yyyy-MM").as("month"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
    val econ = Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"), lit(true).as("is_promo"))
      .hint("SHUFFLE_HASH")
    l.join(econ, l("l_partkey") === econ("p_partkey"), "left_outer")
      .groupBy("month")
      .agg(
        (sum(when(col("is_promo"), col("rev_c4")).otherwise(0L)) / 10000.0).as("promo_rev"),
        (sum(col("rev_c4")) / 10000.0).as("total_rev"),
        round(sum(when(col("is_promo"), col("rev_c4")).otherwise(0L)) / sum(col("rev_c4")), 6)
          .as("promo_share"))
      .orderBy("month")
  }

  val promoShareSql: String =
    """WITH l AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
      |         CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4
      |  FROM lineitem)
      |SELECT month,
      |       CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev_c4 ELSE 0 END) AS BIGINT)/10000.0 AS promo_rev,
      |       CAST(sum(rev_c4) AS BIGINT)/10000.0 AS total_rev,
      |       round(CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN rev_c4 ELSE 0 END) AS BIGINT)
      |             / CAST(sum(rev_c4) AS BIGINT), 6) AS promo_share
      |FROM l JOIN part ON l_partkey = p_partkey
      |GROUP BY month ORDER BY month""".stripMargin

  /** Correlated scalar subquery, expressed on the engine's SQL surface:
    * each customer's largest order(s). Catalyst decorrelates the subquery
    * into an aggregate + join (no per-row re-execution), so the same query
    * a reference user writes in SQL runs as one distributed plan.
    */
  def correlatedMax(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    // 100.0D: Spark SQL parses a bare 100.0 as DECIMAL, which would make
    // totalprice DECIMAL while the oracle's division yields DOUBLE
    spark.sql(
      """SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice*100) AS BIGINT)/100.0D AS totalprice
        |FROM orders_v o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
        |                      FROM orders_v o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val correlatedMaxSql: String =
    """SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice*100) AS BIGINT)/100.0 AS totalprice
      |FROM orders o
      |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
      |                      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Full CUBE over (mktsegment, priority) with grouping flags — the
    * all-combinations companion of [[rollupAgg]] (rollup only descends the
    * hierarchy; cube also emits the priority-only slice). Cube nulls are
    * rendered as 'ALL' and the grouping flags ride along so oracle NULL
    * semantics can't diverge.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderpriority"), cents(col("o_totalprice")).as("price_c"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(col("price_c")) / 100.0).as("sum_price"),
        grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("o_orderpriority")).cast("int").as("g_pri"))
      .select(
        coalesce(col("c_mktsegment"), lit("ALL")).as("mktsegment"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"), col("g_seg"), col("g_pri"))
      .orderBy("mktsegment", "priority")
  }

  val cubeAggSql: String =
    """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY mktsegment, priority""".stripMargin

  /** PIVOT: order counts per market segment spread across one column per
    * priority. The pivot values are pinned (not inferred), so the plan is
    * a single groupBy with conditional aggregates — no extra distinct-
    * values job, stable schema at any scale.
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderpriority"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .pivot("o_orderpriority", prios)
      .count()
      .na.fill(0L)
      .orderBy("mktsegment")
  }

  val pivotAggSql: String =
    """SELECT c_mktsegment AS mktsegment,
      |       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')        AS "1-URGENT",
      |       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')          AS "2-HIGH",
      |       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')        AS "3-MEDIUM",
      |       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
      |       count(*) FILTER (WHERE o_orderpriority = '5-LOW')           AS "5-LOW"
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1 ORDER BY mktsegment""".stripMargin

  /** Multiple distinct aggregates — as THREE independent two-level
    * branches joined on the 3-row group key, not Catalyst's
    * multi-distinct Expand rewrite. Measured head-to-head at ×1000
    * (best-of-3 on 6B lineitem rows, committed as
    * `bench_distinct_probe_x1000_r15.json`): Expand
    * 140.3 s vs this shape 86.8 s. Expand is one scan but triples every
    * row before the partial aggregate and carries the widened
    * (flag, partkey, suppkey, gid) key through it; the branches scan
    * lineitem 3× (each pruned to 2 columns — cheap columnar reads) and
    * each partial aggregate dedupes its own narrow key space map-side,
    * so the shuffles carry only distinct pairs. The 3-row-keyed join of
    * the branch outputs broadcasts trivially. */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val parts = li.select("l_returnflag", "l_partkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_parts"))
    val supps = li.select("l_returnflag", "l_suppkey").distinct()
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_supps"))
    val rows = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
    parts.join(supps, "l_returnflag").join(rows, "l_returnflag")
      .select("l_returnflag", "n_parts", "n_supps", "n_rows")
      .orderBy("l_returnflag")
  }

  val distinctAggSql: String =
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps,
      |       count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #56 q_custdist (TPC-H Q13 shape): orders-per-customer distribution.
    * The outer join keeps zero-order customers (count 0 must appear in the
    * histogram), and the priority predicate lives in the join (filtering
    * `orders` before the join is equivalent and lets the filter push to
    * the scan). Two shuffles: the custkey one dominates at scale and
    * partial-aggregates map-side; the second groups a |distinct counts|-
    * sized frame.
    */
  def custDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val custDistSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** #57 q_not_in: NOT IN subquery semantics with scale-safe routing.
    * The literal SQL form (`p_partkey NOT IN (SELECT l_partkey ...)`)
    * plans as Spark's null-aware anti join, which is BROADCAST-ONLY —
    * and the subquery side here is lineitem-derived, so it grows with SF
    * and the mandatory broadcast fails (driver OOM / timeout) at 100×.
    * This keeps NOT IN's three-valued semantics but routes through a
    * runtime decomposition:
    *
    *  - a cheap existence probe checks the subquery side for NULLs
    *    (`IsNull` reaches the parquet reader as a pushed filter, so row
    *    groups whose footer stats show zero nulls are skipped outright;
    *    the schema's nullability flag short-circuits the probe entirely
    *    for provably non-null columns);
    *  - any NULL present ⇒ NOT IN can never be TRUE ⇒ empty result;
    *  - null-free (true here: `l_partkey` is a key) ⇒ NOT IN ≡ plain
    *    LeftAnti against the DISTINCT key set — shuffled, AQE-sized,
    *    no broadcast requirement, same operator family as `q_anti_join`.
    */
  def notInAnti(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val moved = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45)
      .select(col("l_partkey"))
    val subqueryHasNull =
      moved.schema.head.nullable && !moved.filter(col("l_partkey").isNull).isEmpty
    val unmoved =
      if (subqueryHasNull) part.limit(0)
      else part.join(moved.distinct(), col("p_partkey") === col("l_partkey"), "left_anti")
    unmoved.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_unmoved"))
      .orderBy("p_brand")
  }

  val notInAntiSql: String =
    """SELECT p_brand, count(*) AS n_unmoved
      |FROM part
      |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ----------------------------------------- #69 GROUPING SETS surface
  /** Explicit GROUPING SETS — the general form ROLLUP/CUBE specialize:
    * (status, priority), (status), and the grand total in ONE pass.
    * Spark expands the sets with a single Expand node over one scan
    * (grouping-set aggregation never re-reads the fact table), and the
    * aggregation stays map-side partial per set. `grouping_id` + sentinel
    * labels keep the three strata disambiguated and hash-stable.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT coalesce(o_orderstatus, '<all>')   AS status,
        |       coalesce(o_orderpriority, '<all>') AS priority,
        |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n_orders,
        |       sum(price_c) AS total_cents
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, status, priority""".stripMargin)
  }

  val groupingSetsSql: String =
    """WITH o AS (
      |  SELECT o_orderstatus, o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |  FROM orders)
      |SELECT coalesce(o_orderstatus, '<all>')   AS status,
      |       coalesce(o_orderpriority, '<all>') AS priority,
      |       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |       count(*) AS n_orders,
      |       CAST(sum(price_c) AS BIGINT) AS total_cents
      |FROM o
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY gid, status, priority""".stripMargin

  // ------------------------------------ #67 global-threshold anti (Q22)
  /** TPC-H Q22 shape: customers whose balance beats the global average of
    * positive balances but who placed no URGENT order, aggregated per
    * nation — a global scalar aggregate feeding a filter, composed with
    * an anti join over a filtered subquery.
    *
    * Scale shape: the scalar threshold is a one-row aggregate that
    * BROADCASTs into the filter (no driver-side collect), the anti join
    * builds on `orders`' distinct custkeys, and the final aggregation is
    * a handful of nations — map-side partial all the way.
    */
  def wealthyInactive(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        cents(col("c_acctbal")).as("bal_cents"))
    val thr = cust.filter(col("bal_cents") > 0)
      .agg(avg(col("bal_cents")).as("thr"))
    cust.join(broadcast(thr))
      .filter(col("bal_cents") > col("thr"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("bal_cents")).as("total_bal_cents"))
      .orderBy("c_nationkey")
  }

  val wealthyInactiveSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer),
      |thr AS (SELECT avg(bal_cents) AS thr FROM cust WHERE bal_cents > 0)
      |SELECT c_nationkey, count(*) AS n_cust,
      |       CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
      |FROM cust, thr
      |WHERE bal_cents > thr
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ----------------------------------- #78 small-quantity revenue (Q17)
  /** TPC-H Q17 shape: revenue from small-quantity lineitems of one brand,
    * where "small" means below 20% of that part's average order quantity —
    * a correlated scalar AVG subquery, decorrelated into one per-part
    * aggregate joined back to the fact rows.
    *
    * Scale shape: the brand filter broadcasts into the fact scan first, so
    * both the aggregate and the re-join run over the ~1/|brands| slice,
    * partial-aggregated map-side. The 20%-of-average comparison is exact
    * integer math (`5·qty·cnt < Σqty`, all in cents), so the oracle can't
    * drift on a double threshold.
    */
  def avgYearly(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#23").select("p_partkey")
    val l = Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"))
    val perPart = l.groupBy("l_partkey")
      .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("cnt"))
    l.join(perPart, "l_partkey")
      .filter(col("qty_c") * 5 * col("cnt") < col("sum_qty_c"))
      .agg((coalesce(sum(col("price_c")), lit(0L)) / 700.0).as("avg_yearly"))
  }

  val avgYearlySql: String =
    """WITH l AS (
      |  SELECT l_partkey,
      |         CAST(round(l_quantity*100) AS BIGINT)      AS qty_c,
      |         CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23'),
      |pp AS (SELECT l_partkey, sum(qty_c) AS sum_qty_c, count(*) AS cnt
      |       FROM l GROUP BY l_partkey)
      |SELECT CAST(coalesce(sum(price_c), 0) AS BIGINT)/700.0 AS avg_yearly
      |FROM l JOIN pp USING (l_partkey)
      |WHERE qty_c * 5 * cnt < sum_qty_c""".stripMargin

  // ------------------------------------------ #79 large orders (Q18)
  /** TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    * with customer context — a grouped HAVING feeding a semi-style join
    * back to the order/customer detail, top-100 by price.
    *
    * Scale shape: the heavy aggregation (`groupBy l_orderkey`) reduces the
    * fact table to qualifying keys BEFORE any join; the surviving key set
    * is tiny (threshold-selective) so both subsequent joins broadcast it.
    * Top-k plans as TakeOrderedAndProject — no global sort.
    */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), cents(col("l_quantity")).as("qty_c"))
      .groupBy("l_orderkey")
      .agg(sum(col("qty_c")).as("sum_qty_c"))
      .filter(col("sum_qty_c") > 300 * 100L)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        tsStr(col("o_orderdate")).as("orderdate"),
        (cents(col("o_totalprice")) / 100.0).as("totalprice"),
        (col("sum_qty_c") / 100.0).as("sum_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val largeOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 30000)
      |SELECT c_name, c_custkey, o_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
      |       CAST(round(o_totalprice*100) AS BIGINT)/100.0 AS totalprice,
      |       sum_qty_c/100.0 AS sum_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |            JOIN customer ON o_custkey = c_custkey
      |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ------------------------------- #80 disjunctive predicates (Q19)
  /** TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning both
    * join sides (brand/size from `part`, quantity from `lineitem`).
    *
    * Scale shape: Catalyst extracts the common join key and pushes the
    * per-side conjuncts into each scan (the `p_brand IN (...)` and
    * quantity range both reach PushedFilters); the residual disjunction
    * evaluates post-join inside codegen. One broadcast join, one scalar
    * aggregate — no shuffle of the fact table at all.
    */
  def disjunctivePred(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    val l = Tables.lineitem(spark, dir).select(
      col("l_partkey"), cents(col("l_quantity")).as("qty_c"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("qty_c").between(100L, 1100L)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("qty_c").between(1000L, 2000L)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(1, 35) &&
        col("qty_c").between(2000L, 3000L))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg((coalesce(sum(col("rev_c4")), lit(0L)) / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val disjunctivePredSql: String =
    """WITH l AS (
      |  SELECT l_partkey,
      |         CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
      |         CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4
      |  FROM lineitem)
      |SELECT CAST(coalesce(sum(rev_c4), 0) AS BIGINT)/10000.0 AS revenue,
      |       count(*) AS n_items
      |FROM l JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND qty_c BETWEEN 100 AND 1100)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND qty_c BETWEEN 1000 AND 2000)
      |   OR (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 35 AND qty_c BETWEEN 2000 AND 3000)""".stripMargin

  // ------------------------------- #81 min-cost supplier (Q2 shape)
  /** The LARGE-part lineitems quoting their part's minimum unit price,
    * `(l_partkey, l_suppkey, unit_c, p_partkey, p_name)` — published once
    * per dataset ([[graft.ops.DerivedZone]]). */
  private[graft] val minCostLinesZone =
    new graft.ops.DerivedZone("min_cost_supplier_lines",
      Seq("lineitem.parquet", "part.parquet"))

  /** TPC-H Q2 shape (adapted: this schema has no `partsupp`, so the
    * part↔supplier price relation is derived from observed lineitems):
    * for each LARGE-type part, the supplier(s) quoting its minimum unit
    * price — a per-group MIN subquery joined back on equality, the same
    * decorrelation pattern as Q2's correlated min(ps_supplycost).
    *
    * Scale shape: unit price is exact (cents·100 / qty_c, both longs →
    * one double division); the argmin follows
    * [[graft.ops.LatestState.snapshot]] and runs inside the
    * [[minCostLinesZone]] build at ONE fact scan + ONE shuffle: the slim
    * filtered slice is hash-repartitioned on `l_partkey` and materialized
    * once, so the per-part MIN aggregate and the semi probe both read it
    * with zero further exchanges (without the build-scoped cut the
    * optimizer reorders the part join above the semi, the consumers'
    * subtrees diverge, and the plan scans + shuffles the FULL fact twice —
    * measured at sf10). The semi join keys on the partition key ALONE
    * with `unit_c <= min` as the residual (equivalent to equality, since
    * the min is a lower bound). The query reads the published winners and
    * joins supplier hint-free (AQE broadcasts it while it fits, shuffles
    * it at 100×).
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    minCostLinesZone.get(spark, dir) {
      val p = Tables.part(spark, dir)
        .filter(col("p_type") === "LARGE").select("p_partkey", "p_name")
      val lp = Tables.lineitem(spark, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          round(cents(col("l_extendedprice")) * 100 / cents(col("l_quantity")), 0)
            .cast("long").as("unit_c"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .repartition(col("l_partkey"))
        .localCheckpoint()
      val minUnit = lp.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("unit_c")).as("min_unit_c"))
      lp.join(minUnit,
        col("l_partkey") === col("mk") && col("unit_c") <= col("min_unit_c"),
        "left_semi")
    }
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        (col("unit_c") / 100.0).as("unit_price"))
      .distinct()
      .orderBy("p_partkey", "s_suppkey")
  }

  val minCostSupplierSql: String =
    """WITH l AS (
      |  SELECT l_partkey, l_suppkey, p_partkey, p_name,
      |         CAST(round(CAST(round(l_extendedprice*100) AS BIGINT) * 100
      |                    / CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS unit_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'LARGE'),
      |mu AS (SELECT l_partkey AS mk, min(unit_c) AS min_unit_c FROM l GROUP BY 1)
      |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
      |       unit_c/100.0 AS unit_price
      |FROM l JOIN mu ON l_partkey = mk AND unit_c = min_unit_c
      |       JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY p_partkey, s_suppkey""".stripMargin

  // ------------------------------- #82 EXISTS aggregation (Q4 shape)
  /** TPC-H Q4 shape (adapted: no commit/receipt dates, so "late" means a
    * lineitem shipped more than 30 days after the order date): order
    * counts per priority where a correlated EXISTS holds.
    *
    * Expressed on the SQL surface so Catalyst's decorrelation (EXISTS →
    * left-semi on `l_orderkey` with the date conjunct in the join) is
    * what runs — the fact table is never re-scanned per outer row.
    *
    * Round 15 (guide §6/§1.1 — measured, see OPTIMIZATION_r15.md): the
    * subquery carries the IMPLIED range bound `l_shipdate >
    * 1996-01-31`: the outer filter keeps only 1996-window orders, so
    * orderdate+30d ≥ 1996-01-31 and any qualifying line must pass it.
    * Unlike the correlated conjunct, the constant bound is a pushable
    * scan predicate — row groups whose shipdate max precedes it never
    * decompress, and the semi's fact-side exchange shrinks by the same
    * fraction. (A per-order max(l_shipdate) pre-aggregation was also
    * tried — it is the Q21 trick — and REJECTED by measurement: 4.40 →
    * 5.95 s at ×100, because the scaled corpus scatters an order's
    * lines across files, so the map-side partial max compacts almost
    * nothing and only adds hash-aggregate overhead to the same-sized
    * exchange.)
    */
  def orderPriorityExists(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q4")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_q4")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders_q4 o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem_q4 l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > TIMESTAMP '1996-01-31 00:00:00'
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAYS)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val orderPriorityExistsSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------ #83 top supplier (Q15 shape)
  /** TPC-H Q15 shape: quarterly revenue per supplier, returning the
    * supplier(s) achieving the global maximum — an aggregate feeding a
    * scalar-max filter over itself (the "view + scalar subquery" pattern).
    *
    * Scale shape: revenue-per-supplier is one map-side-combined shuffle;
    * the scalar max is a one-row broadcast back into the filter, so the
    * ties-included argmax never collects to the driver.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .select(col("l_suppkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
      .groupBy("l_suppkey")
      .agg(sum(col("rev_c4")).as("total_c4"))
    val mx = rev.agg(max(col("total_c4")).as("max_c4"))
    rev.join(broadcast(mx)).filter(col("total_c4") === col("max_c4"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("total_c4") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val topSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS total_c4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_c4/10000.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_c4 = (SELECT max(total_c4) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ----------------------------------- #85 cross-nation trade (Q7)
  /** TPC-H Q7 shape: bilateral trade volume — revenue of lineitems where
    * the SUPPLIER sits in one nation and the ordering CUSTOMER in the
    * other, per direction per year. Exercises the double-dim join (the
    * same fact row resolves through two independent dimension chains)
    * with a symmetric pair predicate.
    *
    * Scale shape: both nation dims broadcast; the only shuffles are the
    * two fact-side key joins (orders⋈customer on custkey, lineitem⋈orders
    * on orderkey) and the final 4-row aggregate. The pair filter applies
    * to the broadcast sides BEFORE the fact joins, so non-qualifying
    * suppliers/customers never leave their scans.
    */
  def nationTrade(spark: SparkSession, dir: String): DataFrame = {
    val n1 = "NATION_1"
    val n2 = "NATION_2"
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name").isin(n1, n2))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name").isin(n1, n2))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    // Round 15 (guide §3.3): attach the (2-of-25-nations) customer dim
    // to ORDERS before the fact join — the previous order joined cust
    // onto the (l⋈supp⋈o) stream, re-shuffling every joined fact row by
    // custkey to keep the ~8% with a qualifying customer; reducing
    // orders first shrinks the orderkey exchange's orders side ~12× and
    // drops the joined-stream custkey exchange entirely. Inner joins on
    // disjoint keys commute; the result is unchanged.
    val oc = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_suppkey"),
      year(col("l_shipdate")).as("l_year"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
    l.join(supp, l("l_suppkey") === supp("s_suppkey"))
      .join(oc, l("l_orderkey") === oc("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg((sum(col("rev_c4")) / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val nationTradeSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      |  AND n2.n_name IN ('NATION_1', 'NATION_2')
      |  AND n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // --------------------------------------------- #86 SQL set operations
  /** The set-operation surface: INTERSECT / EXCEPT / UNION between
    * customer key sets defined by different behaviors (has an urgent
    * order; has a >$150k order). Spark plans INTERSECT/EXCEPT as
    * distinct-aggregated joins (left-semi / left-anti over the distinct
    * sets) — the tag column disambiguates the three strata in one output.
    *
    * Scale shape: each branch is one semi-join-shaped reduction of
    * `orders` (map-side distinct first), and the set ops add one shuffle
    * each over already-distinct key columns.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c")).distinct()
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey").as("c")).distinct()
    val both = urgent.intersect(big).withColumn("stratum", lit("both"))
    val urgentOnly = urgent.except(big).withColumn("stratum", lit("urgent_only"))
    val bigOnly = big.except(urgent).withColumn("stratum", lit("big_only"))
    both.unionByName(urgentOnly).unionByName(bigOnly)
      .groupBy("stratum").agg(count(lit(1)).as("n_customers"),
        min(col("c")).as("min_custkey"), max(col("c")).as("max_custkey"))
      .orderBy("stratum")
  }

  val setOpsSql: String =
    """WITH urgent AS (SELECT DISTINCT o_custkey AS c FROM orders
      |                WHERE o_orderpriority = '1-URGENT'),
      |big AS (SELECT DISTINCT o_custkey AS c FROM orders
      |        WHERE o_totalprice > 150000.0),
      |tagged AS (
      |  SELECT c, 'both' AS stratum FROM (SELECT c FROM urgent INTERSECT SELECT c FROM big) t
      |  UNION ALL
      |  SELECT c, 'urgent_only' FROM (SELECT c FROM urgent EXCEPT SELECT c FROM big) t
      |  UNION ALL
      |  SELECT c, 'big_only' FROM (SELECT c FROM big EXCEPT SELECT c FROM urgent) t)
      |SELECT stratum, count(*) AS n_customers,
      |       min(c) AS min_custkey, max(c) AS max_custkey
      |FROM tagged GROUP BY stratum ORDER BY stratum""".stripMargin

  // ----------------------------------------------- #97 UNPIVOT surface
  /** UNPIVOT (melt): the wide aggregate's measure columns rotated into
    * (measure, value) rows — [[pivotAgg]]'s inverse, via the native
    * `Dataset.unpivot` operator (plans as one Expand over the aggregate,
    * no join or union of re-scans). The oracle expresses the same rotate
    * as a UNION ALL, pinning the row multiplication semantics.
    */
  def unpivotAgg(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"))
      .groupBy("l_returnflag")
      .agg(sum(col("qty_c")).as("sum_qty_c"),
        sum(col("price_c")).as("sum_price_c"),
        count(lit(1)).as("n_rows"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty_c"), col("sum_price_c"), col("n_rows")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  val unpivotAggSql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)      AS sum_qty_c,
      |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
      |         count(*) AS n_rows
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, measure, value FROM (
      |  SELECT l_returnflag, 'sum_qty_c' AS measure, sum_qty_c AS value FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price_c', sum_price_c FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'n_rows', n_rows FROM wide) t
      |ORDER BY l_returnflag, measure""".stripMargin

  // ------------------------------------------ #98 LATERAL top-n-per-key
  /** Correlated LATERAL subquery with ORDER BY + LIMIT — "each nation's
    * two richest customers" as a user would write it in SQL. Catalyst
    * decorrelates the per-row subquery into one distributed rank (no
    * per-nation re-execution), which is exactly what must happen for the
    * construct to survive 25 nations → 25M correlation keys.
    */
  def lateralTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("nation_lat")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_lat")
    spark.sql(
      """SELECT n_name, c_custkey, acctbal
        |FROM nation_lat,
        |LATERAL (SELECT c_custkey,
        |                CAST(round(c_acctbal*100) AS BIGINT)/100.0D AS acctbal
        |         FROM customer_lat
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        |ORDER BY n_name, acctbal DESC, c_custkey""".stripMargin)
  }

  val lateralTopNSql: String =
    """SELECT n_name, c_custkey, acctbal
      |FROM nation,
      |LATERAL (SELECT c_custkey,
      |                CAST(round(c_acctbal*100) AS BIGINT)/100.0 AS acctbal
      |         FROM customer
      |         WHERE c_nationkey = n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n_name, acctbal DESC, c_custkey""".stripMargin

  // ------------------------------------------ #99 recursive CTE (4.x)
  /** The reached `(c, depth)` set — one row per customer within 12
    * levels — published once per dataset ([[graft.ops.DerivedZone]]). */
  private[graft] val chainZone =
    new graft.ops.DerivedZone("recursive_chain_reached", Seq("customer.parquet"))

  /** WITH RECURSIVE on the SQL surface (new in Spark 4) — hierarchy
    * walking without procedural driver loops: customers arranged in an
    * implicit binary tree (`child DIV 2 = parent`) are traversed from the
    * root, counting the population per depth. Each recursion level is ONE
    * distributed equi-join (`c_custkey DIV 2 = frontier.c`) — reachability
    * expressed the way a SQL user writes it, executed as iterated joins.
    */
  def recursiveChain(spark: SparkSession, dir: String): DataFrame = {
    // Identical semantics to the oracle's WITH RECURSIVE (and to Spark's
    // native UnionLoop form), but iterated explicitly: the recursive-CTE
    // executor re-analyzes the plan AND re-scans the customer parquet on
    // every level, which at the 100× point made 12 levels cost 7.7 s.
    // Inside the zone build the slim key column is checkpointed ONCE;
    // each level is then a broadcast join of the (≤ 2^depth,
    // customer-bounded) frontier against the in-memory keys, with
    // per-level localCheckpoint to keep the 12-join lineage from
    // deepening the analyzed plan (the CC family's checkpoint-cadence
    // trick). Those cuts are build-scoped: the query aggregates the
    // published parquet, so both faces plan over the same zone files.
    val reached = chainZone.get(spark, dir) {
      val keys = Tables.customer(spark, dir).select(col("c_custkey")).localCheckpoint()
      var frontier = spark.range(1, 2)
        .select(lit(1L).as("c"), lit(0).as("depth")).localCheckpoint()
      val levels = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
      for (_ <- 1 to 12) {
        frontier = keys.join(frontier,
            expr("c_custkey div 2") === col("c"))
          .select(col("c_custkey").as("c"), (col("depth") + 1).as("depth"))
          .localCheckpoint()
        levels += frontier
      }
      levels.reduce(_.unionByName(_))
    }
    reached
      .groupBy("depth").agg(count(lit(1)).as("n"),
        min(col("c")).as("min_key"), max(col("c")).as("max_key"))
      .orderBy("depth")
  }

  val recursiveChainSql: String =
    """WITH RECURSIVE chain(c, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS c, 0 AS depth
      |  UNION ALL
      |  SELECT c2.c_custkey, chain.depth + 1
      |  FROM chain JOIN customer c2 ON c2.c_custkey // 2 = chain.c
      |  WHERE chain.depth < 12)
      |SELECT depth, count(*) AS n, min(c) AS min_key, max(c) AS max_key
      |FROM chain GROUP BY depth ORDER BY depth""".stripMargin

  // ------------------------------------- #89 scan-only aggregate (Q6)
  /** TPC-H Q6 shape: forecast-revenue — a pure filter+aggregate with NO
    * join at all. The value of the shape is what the plan must look like:
    * every predicate (date range, discount band, quantity cap) reaches
    * the parquet scan as a pushed filter, the projection reads 4 columns,
    * and the single scalar aggregate partial-aggregates map-side — at
    * 100 TB this query's cost is the pruned scan and nothing else.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24.0)
      .select((cents(col("l_extendedprice")) * cents(col("l_discount"))).as("rev_c4"))
      .agg((coalesce(sum(col("rev_c4")), lit(0L)) / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val forecastRevenueSql: String =
    """SELECT CAST(coalesce(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                         * CAST(round(l_discount*100) AS BIGINT)), 0) AS BIGINT)
      |         / 10000.0 AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin

  // ----------------------------------- #90 returned-items top-k (Q10)
  /** TPC-H Q10 shape: revenue lost to returns per customer in one
    * quarter, with nation context, top-20. The orders date filter and the
    * returnflag filter both push to their scans; the join order reduces
    * the fact table first (flag-filtered lineitem ⋈ date-filtered orders),
    * then resolves the customer/nation dims broadcast; top-k is
    * TakeOrderedAndProject.
    */
  def returnedTop(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_c4"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"),
        cents(col("c_acctbal")).as("bal_c"))
      .agg(sum(col("rev_c4")).as("rev_c4"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        (col("bal_c") / 100.0).as("acctbal"),
        (col("rev_c4") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val returnedTopSql: String =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(round(c_acctbal*100) AS BIGINT)/100.0 AS acctbal,
      |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)/10000.0 AS revenue
      |FROM lineitem, orders, customer, nation
      |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
      |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ------------------------------- #91 global-share HAVING (Q11 shape)
  /** TPC-H Q11 shape (adapted: part value observed through lineitems):
    * parts whose traded value exceeds 1.3× the AVERAGE per-part traded
    * value — a grouped aggregate filtered by a scalar aggregate over the
    * SAME aggregation, i.e. GROUP BY ... HAVING sum(x) > f · avg.
    * The threshold is relative to the average (not a fixed fraction of
    * the total) so the predicate is scale-invariant: it selects ~10% of
    * parts at every SF instead of going vacuous as the part count grows.
    * All comparisons are integer (cents⁴, integer-division average) so
    * Spark and the oracle agree bit-for-bit at the boundary, and the
    * operand magnitudes stay far below Long overflow even at sf10.
    *
    * Scale shape: the per-part aggregation is the only fact shuffle; the
    * global average re-aggregates the per-part result (tiny), broadcasts
    * back as a one-row join, and the HAVING filter runs post-join — the
    * fact table is scanned ONCE: the per-part aggregate (|parts| rows,
    * tiny next to the fact) is published as a [[graft.ops.DerivedZone]]
    * artifact, so the scalar branch and the HAVING probe both read the
    * zone parquet (and a fresh session pays zero fact scans). Zone-backed
    * reads are canonicalization-stable, so the SQL face asserts full plan
    * identity (the earlier localCheckpoint form could not).
    */
  private[graft] val partValueMemo =
    new graft.ops.DerivedZone("lineitem_part_value", Seq("lineitem.parquet"))

  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = partValueMemo.get(spark, dir) {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          (cents(col("l_extendedprice")) * cents(col("l_quantity"))).as("val_c4"))
        .groupBy("l_partkey")
        .agg(sum(col("val_c4")).as("part_val_c4"))
    }
    val avg = perPart
      .agg(expr("sum(part_val_c4) div count(*)").as("avg_c4"))
    perPart.join(broadcast(avg))
      .filter(col("part_val_c4") * 10L > col("avg_c4") * 13L)
      .select(col("l_partkey"), (col("part_val_c4") / 10000.0).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  val importantPartsSql: String =
    """WITH pp AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
      |                  * CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS part_val_c4
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT l_partkey, part_val_c4/10000.0 AS part_value
      |FROM pp
      |WHERE part_val_c4 * 10 > (SELECT sum(part_val_c4)//count(*) FROM pp) * 13
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  // ------------------------------- #102 market share (Q8 shape)
  /** TPC-H Q8 shape: one nation's share of STANDARD-part revenue among
    * ASIA-region customers, per order year — the "national market share"
    * query: a 6-relation join resolving BOTH dimension chains (customer →
    * nation → region for the market filter, supplier → nation for the
    * share numerator) feeding a conditional-aggregation ratio.
    *
    * Scale shape: the two fixed dims (nation, region) broadcast; the
    * SF-scaled relations (part filter, orders, customer key set, supplier
    * map) join hint-free so AQE sizes them; the customer restriction is a
    * LEFT SEMI (a filter, not a widening join); revenue is exact 1e-4
    * dollar units (cents × integer discount-complement) so the share's
    * numerator/denominator are bit-exact longs.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.load(spark, dir, "nation")
    val l = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("rev_c4"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    val custAsia = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nat.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.load(spark, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    // Round 15 (guide §3.3): apply the ASIA-customer semi to ORDERS
    // before the fact join — previously the semi ran on the joined
    // (l⋈p⋈o) stream, shuffling every joined fact row by custkey just
    // to drop the ~80% non-ASIA share; semi-reducing orders first
    // shrinks the orderkey exchange's right side ~5× and the custkey
    // exchange moves slim (orderkey, custkey, year) rows. Semi ⋈ and
    // inner join on disjoint keys commute; the result is unchanged.
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).as("o_year"))
      .join(custAsia, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_year"))
    val suppNat = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("sn_key"), col("n_name"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(suppNat, col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(sum(col("rev_c4")).as("total_c4"),
        sum(when(col("supp_nation") === "NATION_2", col("rev_c4")).otherwise(0L))
          .as("nation_c4"))
      .select(col("o_year"),
        (col("total_c4") / 10000.0).as("total_rev"),
        (col("nation_c4") / 10000.0).as("nation_rev"),
        round(col("nation_c4") / col("total_c4"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  val marketShareSql: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_partkey, l_suppkey,
      |         CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4
      |  FROM lineitem),
      |asia_cust AS (
      |  SELECT c_custkey FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |sn AS (
      |  SELECT s_suppkey, n_name AS supp_nation
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
      |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |       CAST(sum(rev_c4) AS BIGINT)/10000.0 AS total_rev,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev_c4 ELSE 0 END) AS BIGINT)/10000.0 AS nation_rev,
      |       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev_c4 ELSE 0 END) AS BIGINT)
      |             / CAST(sum(rev_c4) AS BIGINT), 6) AS mkt_share
      |FROM l
      |JOIN part   ON l_partkey = p_partkey AND p_type = 'STANDARD'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN sn     ON l_suppkey = s_suppkey
      |WHERE o_custkey IN (SELECT c_custkey FROM asia_cust)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------- #103 product profit (Q9 shape)
  /** TPC-H Q9 shape (adapted: this schema has no `partsupp`, so supply
    * cost is the part's retail price — same join topology, same exact
    * arithmetic): profit on 'widget' parts per supplier nation per order
    * year. Profit per lineitem = revenue − cost in exact 1e-4 dollar
    * units: cents(extprice)·(100−disc%) − cents(retail)·qty_c, all longs.
    *
    * Scale shape: the name-filtered part list and supplier→nation map
    * join hint-free (AQE broadcasts what fits); nation itself broadcasts;
    * the order-year join is the only fact-fact shuffle; the final rollup
    * is a handful of (nation, year) groups, map-side combined.
    */
  /** Whether the orders table plausibly broadcasts under the session
    * threshold — a metadata-only on-disk byte check (no job). Used to
    * choose SHUFFLE_HASH vs the planner's own (broadcast) pick in the
    * fact⋈orders joins (§3.1): at small SFs the broadcast join filters
    * map-side and a forced shuffle would be a pure regression; past the
    * threshold the planner's fallback is a SortMergeJoin that SORTS both
    * fact sides, which the hash build avoids. Compressed parquet bytes
    * understate in-memory size, so this only disables the hint when
    * broadcast is clearly in play. */
  private def ordersBroadcast(spark: SparkSession, dir: String): Boolean =
    graft.ops.DerivedZone.dataBytes(spark, Seq(s"$dir/orders.parquet")) <=
      spark.sessionState.conf.autoBroadcastJoinThreshold

  def profitByNation(spark: SparkSession, dir: String): DataFrame = {
    // Round 16 (measured on the ×1000 AQE-final plan — three SortMergeJoins,
    // each exchanging AND sorting the fact: 600M lineitem rows moved by
    // l_partkey although only 12.5% survive the widget join, then 75M by
    // orderkey, then 75M RAW rows by suppkey):
    //  - §3.2 Bloom pre-filter: the widget slice's p_partkey set (2.5M keys
    //    at ×1000, ~3 MB at 1% fpp) drops definitely-non-widget lines
    //    BEFORE the fact's first exchange — false positives are removed by
    //    the join itself, so the result is unchanged at any fpp. The
    //    filter is sized by an exact count of the slice (one cheap
    //    dim-table pass), never by an estimate.
    //  - §3.1 SHUFFLE_HASH on the slice/orders build sides: the fact
    //    stream probes per-partition hash maps instead of being SORTED
    //    twice; both build sides stay bounded per partition at every
    //    scale because they are partitioned by their own keys (the
    //    promoShare argument).
    //  - §2.3 aggregate before the shuffle: the supplier rollup needs only
    //    per-(suppkey, year) partial sums (exact integer sums — regrouping
    //    is associative), so the suppkey exchange moves ≤ |suppliers|·|years|
    //    pre-aggregated rows instead of every surviving line.
    val l0 = Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
        .as("rev_c4"),
      cents(col("l_quantity")).as("qty_c"))
    val p = Tables.part(spark, dir).filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), cents(col("p_retailprice")).as("retail_c"))
    val nWidget = p.count()
    // Both the Bloom pre-filter and the SHUFFLE_HASH strategy only pay
    // when the slice CANNOT broadcast (a broadcast join already filters
    // the fact map-side before any exchange, §3.2's own cost rule) — the
    // decision is data-adaptive, from the measured slice count against
    // the session broadcast threshold, never a pinned strategy.
    val sliceBroadcasts = nWidget * 32L <=
      spark.sessionState.conf.autoBroadcastJoinThreshold
    val l =
      if (nWidget == 0) l0.limit(0)
      else if (sliceBroadcasts) l0
      else {
        val bf = p.stat.bloomFilter("p_partkey", nWidget, 0.01)
        val bfB = spark.sparkContext.broadcast(bf)
        val mightMatch = udf((k: Long) => bfB.value.mightContainLong(k))
        l0.filter(mightMatch(col("l_partkey")))
      }
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"))
    val sn = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.load(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val pSide = if (sliceBroadcasts) p else p.hint("SHUFFLE_HASH")
    val oSide = if (ordersBroadcast(spark, dir)) o else o.hint("SHUFFLE_HASH")
    l.join(pSide, col("l_partkey") === col("p_partkey"))
      .join(oSide, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_suppkey", "o_year")
      .agg(sum(col("rev_c4") - col("retail_c") * col("qty_c")).as("part_c4"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .groupBy("nation", "o_year")
      .agg(sum(col("part_c4")).as("profit_c4"))
      .select(col("nation"), col("o_year"), col("profit_c4"),
        (col("profit_c4") / 10000.0).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val profitByNationSql: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_partkey, l_suppkey,
      |         CAST(round(l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev_c4,
      |         CAST(round(l_quantity*100) AS BIGINT) AS qty_c
      |  FROM lineitem),
      |p AS (
      |  SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS retail_c
      |  FROM part WHERE p_name LIKE '%widget%'),
      |sn AS (
      |  SELECT s_suppkey, n_name AS nation
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
      |SELECT nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |       CAST(sum(rev_c4 - retail_c * qty_c) AS BIGINT) AS profit_c4,
      |       CAST(sum(rev_c4 - retail_c * qty_c) AS BIGINT)/10000.0 AS profit
      |FROM l
      |JOIN p      ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN sn     ON l_suppkey = s_suppkey
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  // ------------------------------- #104 dominant suppliers (Q20 shape)
  /** TPC-H Q20 shape (adapted: "excess stock" becomes shipped-share —
    * no partsupp availqty in this schema): suppliers who shipped MORE
    * THAN HALF of some 'red' part's total shipped quantity — a nested
    * aggregation (per-(part,supplier) → per-part) joined back on the
    * group key, feeding a supplier rollup.
    *
    * Scale shape (round 15, guide §2.4 — measured, see
    * OPTIMIZATION_r15.md): a strict majority (`qty·2 > total`) can hold
    * for AT MOST ONE supplier per part, and if it holds it is held by
    * the per-part argmax — two suppliers tied at the max qty m would
    * need 2m > total ≥ 2m. So the nested aggregation needs NO join-back
    * at all (the round-14 shape joined `perPair` against its own
    * re-aggregation on l_partkey — the same two-consumers-of-one-subtree
    * pattern that cost `q_waiting_suppliers` a doubled fact pipeline in
    * round 11): per part, `max(struct(qty, suppkey))` + `sum(qty)` in
    * ONE pass over the per-pair frame, filter `2·max > total`, and the
    * argmax's suppkey IS the dominant supplier. The part filter stays a
    * LEFT SEMI on the fact scan; at scale that semi is a sort-merge
    * join whose exchange already hash-partitions the fact by
    * `l_partkey`, and both aggregations cluster on supersets of that
    * key — so past the broadcast threshold the whole chain runs on ONE
    * fact exchange, zero join-backs. The struct tiebreak on suppkey is
    * unreachable when the filter passes (uniqueness above), so the
    * result is deterministic. Strict integer halves (qty_c·2 > total_c)
    * — no ratios, no floats.
    */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val lf = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), cents(col("l_quantity")).as("qty_c"))
      .join(Tables.part(spark, dir).filter(col("p_name").startsWith("red"))
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val perPair = lf.groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("qty_c")).as("pair_qty_c"))
    val dominant = perPair.groupBy("l_partkey")
      .agg(sum(col("pair_qty_c")).as("part_qty_c"),
        max(struct(col("pair_qty_c"), col("l_suppkey"))).as("mx"))
      .filter(col("mx.pair_qty_c") * 2L > col("part_qty_c"))
      .select(col("mx.l_suppkey").as("l_suppkey"))
    Tables.supplier(spark, dir)
      .join(dominant.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_parts_dominated")),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts_dominated"))
      .orderBy("s_suppkey")
  }

  val dominantSuppliersSql: String =
    """WITH lf AS (
      |  SELECT l_partkey, l_suppkey, CAST(round(l_quantity*100) AS BIGINT) AS qty_c
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')),
      |pair AS (
      |  SELECT l_partkey, l_suppkey, CAST(sum(qty_c) AS BIGINT) AS pair_qty_c
      |  FROM lf GROUP BY 1, 2),
      |tot AS (
      |  SELECT l_partkey AS pk, CAST(sum(pair_qty_c) AS BIGINT) AS part_qty_c
      |  FROM pair GROUP BY 1)
      |SELECT s_suppkey, s_name, count(*) AS n_parts_dominated
      |FROM pair JOIN tot ON l_partkey = pk
      |JOIN supplier ON s_suppkey = l_suppkey
      |WHERE pair_qty_c * 2 > part_qty_c
      |GROUP BY 1, 2
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------- #105 waiting suppliers (Q21 shape)
  /** TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    * multi-supplier orders ("late" = shipped >30 days after the order
    * date, the schema's Q4 convention) — classically written as a
    * double-correlated EXISTS + NOT EXISTS on the same fact table, and
    * that is exactly what the ORACLE runs. The engine routes the same
    * semantics through a per-order aggregation instead: the literal
    * decorrelated form joins the fact against itself TWICE on
    * l_orderkey (a semi and an anti, each shuffling full lineitem — at
    * sf10 that plan measured 50 s), where one aggregation pass already
    * holds everything the predicate needs. Per (order, supplier):
    * late-row count; per order: distinct-supplier and late-supplier
    * counts. A supplier's qualifying rows are then
    * `sup_late ∧ n_suppliers ≥ 2 ∧ n_late_suppliers = 1` — the EXISTS
    * is the ≥2, the NOT EXISTS is the =1.
    *
    * The per-order predicate needs no join-back at all (the round-11
    * shape joined the pair aggregate against its own re-aggregation —
    * two consumers of one subtree, which per-branch column pruning kept
    * ReuseExchange from sharing, so the fact pipeline ran twice: 197 s
    * in-suite at ×1000): when `n_late_suppliers = 1`, THE late supplier
    * and its late-row count are themselves per-order aggregates
    * (`max(when(sup_late=1, …))` over a group that contains exactly one
    * such row), so the whole query is ONE aggregation chain. Exchange
    * economics: the fact⋈orders join partitions both sides by
    * l_orderkey; both downstream groupBys cluster on key SUBSETS of
    * that partitioning, so neither re-shuffles — the only other
    * exchanges are the tiny qualifying-supplier join and the final
    * s_name rollup.
    */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val perPair = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      // SHUFFLE_HASH build on the (slimmer) orders side when orders can't
      // broadcast — round 16, §3.1: the ×1000 AQE-final plan kept a
      // SortMergeJoin here, which SORTS all 600M fact rows (and 150M
      // orders) on top of the two exchanges the join fundamentally needs.
      // The hash build stays bounded per partition at every scale because
      // orders is partitioned by its own join key and the width grows
      // with data (Tuning) — the promoShare argument. Size-adaptive (a
      // broadcastable orders side keeps the planner's own pick); measured
      // isolated ×1000 min-of-3: 107.6 → 79.0 s (OPTIMIZATION_r16.md).
      .join({
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate"))
        if (ordersBroadcast(spark, dir)) o else o.hint("SHUFFLE_HASH")
      }, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
          .cast("int").as("is_late"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("is_late")).as("sup_late"),
        sum(col("is_late")).cast("long").as("n_late_rows"))
    perPair.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("sup_late")).as("n_late_suppliers"),
        max(when(col("sup_late") === 1, col("l_suppkey"))).as("late_suppkey"),
        max(when(col("sup_late") === 1, col("n_late_rows"))).as("late_rows"))
      .filter(col("n_suppliers") >= 2 && col("n_late_suppliers") === 1)
      .join(Tables.supplier(spark, dir), col("late_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("late_rows")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val waitingSuppliersSql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  // ------------------------------- #107 shipping-class priority (Q12 shape)
  /** TPC-H Q12 shape (adapted: the synthetic lineitem carries no shipmode,
    * so the return-flag class plays the mode): per shipping class, how
    * many 1996-shipped lines belong to critical-priority orders
    * (URGENT/HIGH) vs the rest. One fact-fact equi-join on the order key
    * followed by conditional aggregation — both classification sums ride
    * the same partial-aggregate pass, so the plan is scan → join →
    * HashAggregate(partial) → one Exchange on a 3-value key →
    * HashAggregate(final). The 1996 filter is a RANGE predicate, not
    * `year() = 1996` — ranges reach the parquet scan as PushedFilters and
    * prune row groups on shipdate min/max stats (a `year()` call computes
    * per-row and scans everything), shrinking the shuffled side ~6× (the
    * shipdate range spans 1995-2001).
    */
  def shipMode(spark: SparkSession, dir: String): DataFrame = {
    val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  val shipModeSql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------- #108 supplier-part counts (Q16 shape)
  /** TPC-H Q16 shape: distinct-supplier counts per part attribute group,
    * excluding a blocklisted supplier set (the classic
    * `NOT IN (SELECT ...)` — here suppliers whose name ends in '7', a
    * deterministic ~10% stand-in for Q16's complaints filter). The
    * supplier-part pairs come from lineitem (this schema has no partsupp
    * table). Plan shape: the part attribute filter prunes at the scan;
    * the blocklist anti-join is hint-free — `s_suppkey` is non-null by
    * construction so a plain LeftAnti carries NOT IN semantics, and AQE
    * sizes it (broadcast while small, shuffled at 100×). The
    * count(DISTINCT) runs as Spark's two-phase distinct aggregate: pairs
    * de-duplicated on (group keys, suppkey) map-side before the final
    * count — no row explosion, no global distinct.
    */
  def supplierParts(spark: SparkSession, dir: String): DataFrame = {
    val blocked = Tables.supplier(spark, dir)
      .filter(col("s_name").like("%7"))
      .select(col("s_suppkey").as("bad_sk"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#45" && !col("p_type").startsWith("MEDIUM") &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(blocked, col("l_suppkey") === col("bad_sk"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val supplierPartsSql: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1,4,9,14,19,24,29,36)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
}
