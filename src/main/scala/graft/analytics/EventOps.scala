package graft.analytics

import graft.Tables
import graft.Tables.cents
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators in their batch form (SURVEY.md §2.2 #16-18).
  *
  * The `events` table carries nanosecond timestamps, which Spark's parquet
  * reader only surfaces as raw longs (`nanosAsLong`, see
  * [[graft.Tables.events]]) — convenient here, because all event-time
  * arithmetic is then exact integer math that the DuckDB oracle reproduces
  * bit-for-bit.
  */
object EventOps {

  /** Nanosecond-long ts → epoch seconds.
    *
    * POST-EPOCH ASSUMPTION (shared by every event-time `div` in this
    * file and its oracles): Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, so the two agree only for non-negative
    * operands. `events.ts` is generated post-epoch (testdata and
    * ScaleData alike) and a metadata journal's event time can never
    * predate its store, so the engine standardizes on `div`; a corpus
    * with pre-1970 timestamps would need a shared floor-div helper on
    * BOTH faces before any bucketing math here is trusted. */
  private def withSec(df: DataFrame): DataFrame =
    df.withColumn("sec", expr("ts div 1000000000"))

  /** Tumbling 1h event-time window aggregation per event type — the batch
    * shape of a streaming windowed agg. One shuffle, map-side combine.
    */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame = {
    withSec(Tables.events(spark, dir))
      .select(
        date_format(timestamp_seconds(expr("sec div 3600 * 3600")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        cents(col("value")).as("v_c"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"), (sum(col("v_c")) / 100.0).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  val windowedAggSql: String =
    """SELECT strftime(make_timestamp((((epoch_ns(ts)//1000000000)//3600)*3600)*1000000),
      |                '%Y-%m-%d %H:%M:%S') AS hour,
      |       event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Gap-based sessionization (30 min inactivity closes a session): the
    * classic lag → new-session flag → running sum pattern. Partitioned by
    * user, so the single shuffle is on the session key.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("sec", "event_id")
    withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("sec"))
      .withColumn("new_sess",
        when(col("sec") - lag(col("sec"), 1).over(byUser) > 1800 ||
             lag(col("sec"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        Window.partitionBy("user_id").orderBy("sec", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(timestamp_seconds(min(col("sec"))), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(timestamp_seconds(max(col("sec"))), "yyyy-MM-dd HH:mm:ss").as("end_ts"))
      .orderBy("user_id", "session_id")
  }

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS sec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, sec,
      |         CASE WHEN sec - lag(sec) OVER w > 1800 OR lag(sec) OVER w IS NULL
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, sec,
      |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       strftime(make_timestamp(min(sec)*1000000), '%Y-%m-%d %H:%M:%S') AS start_ts,
      |       strftime(make_timestamp(max(sec)*1000000), '%Y-%m-%d %H:%M:%S') AS end_ts
      |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** Ordered conversion funnel signup → view → click → purchase: each
    * stage records the user's earliest matching event at-or-after the
    * previous stage's timestamp, `depth` counts completed stages.
    *
    * Scale shape: ONE hash exchange of the (3-column) event log on
    * `user_id`, then the whole stage recurrence `t_k = min{sec ∈ type_k :
    * sec ≥ t_{k-1}}` evaluates in a single projection over per-user
    * per-type sec arrays. The previous formulation — one user-keyed
    * join + re-aggregation per stage, stages referencing stages — read
    * well but planned as a cascade that RECOMPUTED every earlier stage
    * inside every later one (stage k's subtree rebuilds stages 1..k-1:
    * 10 stage evaluations for a 4-deep funnel, each a join that flips
    * from broadcast to sort-merge as the per-user frames outgrow the
    * threshold; measured 5.1× the isolated sf10 wall for 3× data at
    * sf30, the worst step in the pipeline subset — vs 1.2× rewritten).
    * A null `t_{k-1}` makes every `sec ≥ t_{k-1}` comparison null, so
    * the filtered array is empty and `array_min` yields null — exactly
    * the join chain's (and the SQL oracle's) absent-stage semantics.
    * Per-user arrays are bounded by a user's own event count (the same
    * rows the join chain shuffled per stage, now moved once). That buffer
    * is UNBOUNDED for a pathological single-user hot key — an accepted
    * trade here: the funnel recurrence has no bounded mergeable state
    * (stage k's min depends on stage k-1's result, so the exact
    * sufficient statistic per partition is the full sorted per-type
    * list), which also rules out salting the aggregate the way
    * [[graft.ops.Skew]] salts an equi-join. If a real deployment hits a
    * multi-million-event user, the escape hatch is the classic
    * repartition-by-user + sortWithinPartitions(user, sec) +
    * constant-state per-user scan — O(1) memory, one extra sort — not a
    * per-type cap (a cap is unsound: a qualifying stage-k event can sit
    * after arbitrarily many non-qualifying earlier ones).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("sec"), col("event_type"))
    def secsOf(typ: String) =
      collect_list(when(col("event_type") === typ, col("sec")))
    def minAtOrAfter(arr: String, prevT: String) =
      array_min(filter(col(arr), s => s >= col(prevT)))
    e.groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("sec"))).as("t_signup"),
        secsOf("view").as("views"),
        secsOf("click").as("clicks"),
        secsOf("purchase").as("purchases"))
      .filter(col("t_signup").isNotNull)
      .withColumn("t_view", minAtOrAfter("views", "t_signup"))
      .withColumn("t_click", minAtOrAfter("clicks", "t_view"))
      .withColumn("t_purchase", minAtOrAfter("purchases", "t_click"))
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) + col("t_view").isNotNull.cast("int")
          + col("t_click").isNotNull.cast("int")
          + col("t_purchase").isNotNull.cast("int")).as("depth"))
      .orderBy("user_id")
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts)//1000000000 AS sec, event_type FROM events),
      |s1 AS (SELECT user_id, min(sec) AS t_signup FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.sec) AS t_view FROM e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'view' AND e.sec >= s1.t_signup GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.sec) AS t_click FROM e JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'click' AND e.sec >= s2.t_view GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.sec) AS t_purchase FROM e JOIN s3 ON e.user_id = s3.user_id
      |       WHERE e.event_type = 'purchase' AND e.sec >= s3.t_click GROUP BY 1)
      |SELECT s1.user_id, t_signup, t_view, t_click, t_purchase,
      |       CAST(1 + CAST(t_view IS NOT NULL AS INT) + CAST(t_click IS NOT NULL AS INT)
      |            + CAST(t_purchase IS NOT NULL AS INT) AS INT) AS depth
      |FROM s1
      |LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |LEFT JOIN s4 ON s1.user_id = s4.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** Weekly cohort retention: users grouped by their first-event week,
    * counted in each later week they were active (offset 0 = the cohort
    * week itself). Two aggregations + one user-keyed join — the classic
    * retention matrix with exact integer week arithmetic.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = withSec(Tables.events(spark, dir))
      .select(col("user_id"), expr("sec div 604800").as("week"))
      .distinct()
    val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000//604800 AS week FROM events),
      |cohorts AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
      |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
      |       count(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN cohorts c ON e.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** Bucketized range join: for every error event, the count of the same
    * user's clicks within ±60 s. A naive range join is an inequality join
    * (quadratic explosion); here time is bucketed into 60 s cells, the
    * error side fans out to its 3 adjacent cells, and the join is a plain
    * `(user, bucket)` EQUALITY join + exact |Δt| filter — each true pair
    * matches exactly one bucket cell, so no dedup is needed and the work
    * is proportional to true temporal neighborhoods, not |errors|×|clicks|.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = withSec(Tables.events(spark, dir))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("sec").as("csec"),
        expr("csec div 60").as("bucket"))
    val fanned = errors.withColumn("bucket",
      explode(array(expr("sec div 60 - 1"), expr("sec div 60"), expr("sec div 60 + 1"))))
    val matches = fanned.join(clicks, Seq("user_id", "bucket"))
      .filter(abs(col("csec") - col("sec")) <= 60)
      .groupBy("event_id").agg(count(lit(1)).as("n"))
    errors.join(matches, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_nearby_clicks"))
      .orderBy("event_id")
  }

  val rangeJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec FROM events),
      |e AS (SELECT user_id, event_id, sec FROM ev WHERE event_type = 'error'),
      |c AS (SELECT user_id, sec AS csec FROM ev WHERE event_type = 'click'),
      |m AS (
      |  SELECT e.event_id, count(*) AS n
      |  FROM e JOIN c ON e.user_id = c.user_id AND abs(c.csec - e.sec) <= 60
      |  GROUP BY 1)
      |SELECT e.event_id, e.user_id, COALESCE(m.n, 0) AS n_nearby_clicks
      |FROM e LEFT JOIN m ON e.event_id = m.event_id
      |ORDER BY e.event_id""".stripMargin

  /** As-of join: each purchase matched to the user's most recent prior (or
    * same-instant) click. Formulated as a single window pass over the
    * event log — no range-join explosion, no per-key driver loop; scales as
    * one shuffle on user_id.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
      .withColumn("prior_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prior_click_id"))
      .orderBy("event_id")
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, prior_click_id FROM (
      |  SELECT event_id, user_id, event_type,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |           OVER (PARTITION BY user_id
      |                 ORDER BY epoch_ns(ts)//1000000000, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_click_id
      |  FROM events) t
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  /** k for the KMV sketch: estimate uses the k-th smallest distinct hash. */
  val KmvK = 32

  /** #59 approx_distinct_kmv: KMV (k-minimum-values) distinct-count sketch
    * per event type, reported next to the exact count it approximates.
    *
    * A KMV sketch keeps the k smallest values of a uniform hash of the
    * items; `(k-1) * M / h_k` (hash range M) estimates the distinct count
    * in O(k) space — the mergeable-sketch way to count distincts at 100 TB
    * where an exact `count(distinct)` shuffles every key. The sketch here
    * is built with the portable polynomial hash, so Spark and the DuckDB
    * oracle compute bit-identical h_k and the estimate is hash-gated, not
    * rows-only (the usual sketch-testing problem).
    *
    * Scale shape: the per-group distinct runs map-side partial dedup
    * before its shuffle; the rank window then sees |distinct hashes| rows
    * only. Groups with fewer than k distinct values report NULL (the
    * sketch is undersized for them, exact count is already cheap there).
    */
  def approxDistinctKmv(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Portable
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    // polyHash of a short string occupies only the low end of [0, P) —
    // useless for order statistics; the cubic mixer equidistributes it
    // across the full range (and stays bit-identical in the oracle).
    val dh = ev.distinct()
      .select(col("event_type"),
        Portable.mixCube(
          Portable.polyHash(concat(lit("u"), col("user_id").cast("string")))).as("h"))
      .distinct() // two user_ids may collide on h: KMV is over distinct hash values
    // k-th SMALLEST hash via the bounded-heap aggregate (negated score →
    // the heap keeps the k minima), NOT a row_number window: the window
    // form funnels each event_type's millions of distinct hashes through
    // ONE task's sort — measured 26 s at the 100× scale point — while
    // the heap folds map-side and shuffles ≤ k rows per partition per
    // group. `get()` (null past the end) preserves the undersized-group
    // NULL semantics.
    val kth = dh.groupBy("event_type")
      .agg(graft.functions.GraftFunctions
        .topk(struct((-col("h")).cast("double"), col("h")), KmvK).as("tk"))
      .select(col("event_type"),
        get(col("tk"), lit(KmvK - 1)).getField("id").as("hk"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    exact.join(kth, Seq("event_type"), "left")
      .select(col("event_type"), col("exact_distinct"),
        round(lit((KmvK - 1).toDouble) * lit(Portable.P.toDouble) / col("hk"), 4)
          .as("kmv_estimate"))
      .orderBy("event_type")
  }

  val approxDistinctKmvSql: String = {
    import graft.functions.Portable
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |ph AS (SELECT event_type,
      |         ${Portable.polyHashSql("'u' || CAST(user_id AS VARCHAR)")} AS h0
      |       FROM du),
      |dh AS (SELECT DISTINCT event_type, ${Portable.mixCubeSql("h0")} AS h FROM ph),
      |r AS (SELECT event_type, h,
      |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM dh),
      |kth AS (SELECT event_type, h AS hk FROM r WHERE rn = $KmvK),
      |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      |       FROM events GROUP BY 1)
      |SELECT ex.event_type AS event_type, exact_distinct,
      |       round(${KmvK - 1}.0 * ${Portable.P} / hk, 4) AS kmv_estimate
      |FROM ex LEFT JOIN kth ON ex.event_type = kth.event_type
      |ORDER BY ex.event_type""".stripMargin
  }

  // ------------------------------------------- #77 sliding-window distinct
  /** Distinct users per SLIDING hour (15-min slide): each event lands in
    * 4 overlapping windows — the batch twin of the streaming sliding agg.
    *
    * Scale shape (round 15, guide §2.3/§2.4 — measured, see
    * OPTIMIZATION_r15.md): the previous form (`groupBy(window(...))` +
    * `countDistinct`) Expands every event ×4 BEFORE its distinct
    * shuffle, so the one fact-sized exchange carried 4N rows of
    * (16-byte window struct, user) — the window fan-out is pure
    * duplication that the exchange does not need. This form shuffles
    * the fact ONCE, ×1, as slim (slot, user) pairs hash-partitioned by
    * `user_id` alone; because every later key — (slot, user) and
    * (wslot, user) — contains `user_id`, BOTH distinct levels and the
    * ×4 window expansion run entirely inside that one partitioning
    * (zero further fact exchanges; the only other exchange moves one
    * row per non-empty window). An event's 4 windows are exactly
    * `wslot ∈ [slot−3, slot]` (window start s ≡ 0 mod 900 with
    * s ≤ t < s+3600), so `explode(sequence(slot-3, slot))` reproduces
    * `window("1 hour","15 minutes")` assignment row-for-row.
    */
  def slidingDistinct(spark: SparkSession, dir: String): DataFrame =
    withSec(Tables.events(spark, dir))
      .select(expr("sec div 900").as("slot"), col("user_id"))
      .repartition(col("user_id"))
      .dropDuplicates("slot", "user_id")
      .select(explode(sequence(col("slot") - 3, col("slot"))).as("wslot"),
        col("user_id"))
      .dropDuplicates("wslot", "user_id")
      .groupBy("wslot")
      .agg(count(lit(1)).as("n_users"))
      .select(Tables.tsStr(timestamp_seconds(col("wslot") * 900)).as("window_start"),
        col("n_users"))
      .orderBy("window_start")

  val slidingDistinctSql: String =
    """WITH e AS (
      |  SELECT epoch_ns(ts)//1000000000 AS sec, user_id FROM events),
      |w AS (
      |  SELECT (sec//900 - i)*900 AS wstart, user_id
      |  FROM e, (SELECT unnest(range(4)) AS i))
      |SELECT strftime(make_timestamp(wstart*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       count(DISTINCT user_id) AS n_users
      |FROM w GROUP BY wstart ORDER BY window_start""".stripMargin

  // ---------------------------------------------- #74 anomaly detection
  /** Per-user 2σ outlier events, in EXACT integer arithmetic: with
    * per-user n, s1=Σcents, s2=Σcents², the test |x−μ| > 2σ rewrites to
    * (n·x − s1)² > 4·(n·s2 − s1²) — all int64, no float means/stddevs to
    * diverge between engines. The per-user moments are one map-side
    * partial aggregation; flagging is a broadcast join back against the
    * events scan. (Magnitude note: needs n·max(c)² < 2⁶³ — at
    * petabyte-per-user volumes the moments would aggregate per shard
    * first.)
    */
  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), cents(col("value")).as("c"))
    val stats = ev.groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val dev = ev("c") * stats("n") - stats("s1")
    ev.join(stats, ev("user_id") === stats("u"))
      .filter(stats("n") >= 2 &&
        dev * dev > lit(4L) * (stats("n") * stats("s2") - stats("s1") * stats("s1")))
      .select(col("event_id"), col("user_id"), (col("c") / 100.0).as("value"))
      .orderBy("event_id")
  }

  val anomalySql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |stats AS (
      |  SELECT user_id AS u, count(*) AS n,
      |         CAST(sum(c) AS BIGINT) AS s1,
      |         CAST(sum(c * c) AS BIGINT) AS s2
      |  FROM ev GROUP BY 1)
      |SELECT event_id, user_id, c/100.0 AS value
      |FROM ev JOIN stats ON ev.user_id = stats.u
      |WHERE n >= 2 AND (c*n - s1)*(c*n - s1) > 4*(n*s2 - s1*s1)
      |ORDER BY event_id""".stripMargin

  // -------------------------------------- #75 semi-structured extraction
  /** Per-prop aggregation over the JSON `props` payload: extract `$.k`
    * from every event and aggregate count + exact-cents totals per k —
    * the schema-on-read projection surface (the ingest pipeline's JSON
    * hoisting, exposed as a query op). One codegen'd JSON path extraction
    * per row, one agg shuffle on the extracted key.
    */
  def propsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
        cents(col("value")).as("c"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_events"), (sum(col("c")) / 100.0).as("total_value"))
      .orderBy("k")

  val propsAggSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)/100.0 AS total_value
      |FROM events GROUP BY 1 ORDER BY k""".stripMargin

  // ------------------------------------------- #66 moving average window
  /** Per-user trailing 5-minute moving average of event value — the
    * RANGE-frame (time-based, not row-based) window surface: every event
    * sees the average over all its user's events within the preceding
    * 300 s, peers at the same second included.
    *
    * Determinism: values accumulate as exact integer cents inside the
    * frame; the single double division happens once per row at the end.
    * Scale shape: one shuffle on `user_id`, then a per-partition ordered
    * scan — the frame is bounded by time so state never exceeds the
    * window's event count.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-300, 0)
    withSec(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"), col("sec"),
        cents(col("value")).as("c"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("avg_value", sum("c").over(w) / (lit(100.0) * col("n_win")))
      .drop("c")
      .orderBy("event_id")
  }

  val movingAvgSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts)//1000000000 AS sec,
      |         CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events)
      |SELECT event_id, user_id, sec,
      |       CAST(count(*) OVER w AS BIGINT) AS n_win,
      |       CAST(sum(c) OVER w AS BIGINT) / (100.0 * count(*) OVER w) AS avg_value
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |             RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // --------------------------------- #96 native session_window operator
  /** Gap sessionization through Spark's NATIVE `session_window` aggregate
    * (the mechanism streaming session aggs use), proven equivalent to the
    * lag+cumsum formulation by the oracle: DuckDB recomputes the sessions
    * classically and must agree on every boundary.
    *
    * Boundary semantics, measured not assumed: THIS operator's sessions
    * are half-open — an event exactly `gap` after the last one opens a
    * NEW session (`>= 1800` splits, per this operator's oracle). Spark's
    * native `session_window` merges adjacency-INCLUSIVE instead (two
    * per-event windows merge when `start == end`, i.e. a gap of exactly
    * `gap` still merges) — invisible at the sf0.01 gate, caught by the
    * sf1 crosscheck where a denser timeline produced an exact-1800 s
    * whole-second gap (user 511, VERIFY_SF1). On second-floored
    * timestamps the half-open 1800 s session is EXACTLY a closed 1799 s
    * one (`gap_sec ≤ 1799 ⟺ gap_sec < 1800`), so the window uses 1799 s
    * and the emitted end is `sw.end + 1 s = last + 1800`.
    *
    * NOTE this boundary intentionally DIFFERS from [[sessionize]], which
    * splits only at gap `> 1800` (closed sessions — an exactly-1800 s gap
    * stays in-session, per ITS oracle). The two operators model the two
    * textbook gap conventions and each is pinned to its own oracle; do
    * NOT "align" them — either direction breaks one correctness gate
    * (954660 vs 954650 sessions at sf1 shows real exact-gap collisions).
    *
    * Scale shape: one shuffle on `user_id` and a single per-partition
    * merge pass — no window-function sort followed by a regroup, which is
    * what the lag+cumsum form costs.
    */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    withSec(Tables.events(spark, dir))
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts_sec"),
        cents(col("value")).as("v_c"))
      .groupBy(col("user_id"), session_window(col("ts_sec"), "1799 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), (sum(col("v_c")) / 100.0).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(col("sw.end") + expr("INTERVAL 1 SECOND"),
          "yyyy-MM-dd HH:mm:ss").as("end_ts"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_ts")
  }

  val sessionWindowSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts)//1000000000 AS sec, event_id,
      |         CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
      |                   OR sec - lag(sec) OVER w >= 1800 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |       strftime(make_timestamp(min(sec)*1000000), '%Y-%m-%d %H:%M:%S') AS start_ts,
      |       strftime(make_timestamp((max(sec)+1800)*1000000), '%Y-%m-%d %H:%M:%S') AS end_ts,
      |       count(*) AS n_events,
      |       CAST(sum(v_c) AS BIGINT)/100.0 AS sum_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, start_ts""".stripMargin

  // ------------------------------------ #92 exact percentiles at scale
  /** Exact nearest-rank percentiles (p50/p95/p99) of event value per
    * event type — HISTOGRAM form: aggregate to (type, value)→count first,
    * then one cumulative window over the distinct values picks the
    * smallest value whose cumulative count reaches ⌈p·n⌉.
    *
    * Two properties matter at 100 TB: the heavy shuffle carries only the
    * distinct (type, value-cents) histogram (bounded by value domain, not
    * event count — same trick as `text_length_median`), and nearest-rank
    * on integer cents is interpolation-free, so there is no float formula
    * to diverge between engines (`percentile_cont`'s lerp is last-bit
    * engine-dependent).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("v_c"))
      .groupBy("event_type", "v_c").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("v_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("event_type")))
    def pick(p: Double) =
      min(when(col("cum") * 100L >= ceil(lit(p * 100) * col("n")), col("v_c")))
    cum.groupBy("event_type")
      .agg((pick(0.50) / 100.0).as("p50"),
        (pick(0.95) / 100.0).as("p95"),
        (pick(0.99) / 100.0).as("p99"),
        max(col("n")).as("n_events"))
      .orderBy("event_type")
  }

  val percentilesSql: String =
    """WITH hist AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v_c,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, v_c,
      |         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v_c
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM hist)
      |SELECT event_type,
      |       min(CASE WHEN cum * 100 >= ceil(50.0 * n) THEN v_c END)/100.0 AS p50,
      |       min(CASE WHEN cum * 100 >= ceil(95.0 * n) THEN v_c END)/100.0 AS p95,
      |       min(CASE WHEN cum * 100 >= ceil(99.0 * n) THEN v_c END)/100.0 AS p99,
      |       max(n) AS n_events
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------- #88 skew-resilient join
  /** Salted equi-join, gated on producing EXACTLY the plain join's result:
    * the events fact (hot user keys) joins the customer dim through
    * [[graft.ops.Skew.saltedJoin]] — skewed side salted by full-row hash,
    * dim replicated over the salt domain, join on (key, salt) — then
    * aggregates per segment. The salt changes only row DISTRIBUTION, so
    * the DuckDB oracle is the unsalted join: any divergence (lost or
    * duplicated rows from the salt plumbing) hash-fails.
    *
    * Scale posture: this is the pattern for hot keys too big for one
    * reducer when the dim is too big to broadcast outright — the ×8
    * replication costs 8·|dim| shuffled rows to buy per-key parallelism 8.
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id").as("k"), cents(col("value")).as("v_c"))
    val d = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    graft.ops.Skew.saltedJoin(e, d, "k", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("v_c")) / 100.0).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val skewJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------- #84 window-function suite
  /** The navigation/distribution window-function surface in one pass:
    * lag/lead, running first_value, ntile quartiles, percent_rank and
    * cume_dist per user timeline. One window spec → ONE shuffle on
    * `user_id` and one per-partition ordered scan evaluates all six
    * functions (Spark collapses same-spec window expressions into a
    * single Window node).
    *
    * Determinism: the ordering key (`sec, event_id`) is unique, so
    * peer-sensitive functions (cume_dist, percent_rank) see single-row
    * peer groups and both engines compute identical rationals; lag/lead
    * boundary nulls are pinned to -1.
    */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSec(Tables.events(spark, dir))
      .select(col("event_id"), col("user_id"), col("sec"),
        cents(col("value")).as("value_c"))
      .withColumn("prev_c", coalesce(lag("value_c", 1).over(w), lit(-1L)))
      .withColumn("next_c", coalesce(lead("value_c", 1).over(w), lit(-1L)))
      .withColumn("first_c", first("value_c").over(wRun))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("event_id")
  }

  val windowSuiteSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_ns(ts)//1000000000 AS sec,
      |         CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events)
      |SELECT event_id, user_id, sec, value_c,
      |       coalesce(lag(value_c, 1) OVER w, -1)  AS prev_c,
      |       coalesce(lead(value_c, 1) OVER w, -1) AS next_c,
      |       first_value(value_c) OVER
      |         (PARTITION BY user_id ORDER BY sec, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_c,
      |       ntile(4) OVER w       AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w    AS cume
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |ORDER BY event_id""".stripMargin

  // --------------------------------------------- #109 top event paths
  /** Sequence-pattern mining: the 20 most common 3-step event-type paths
    * across every user's time-ordered stream, with how many distinct
    * users walked each. The classic clickstream path-analysis shape. Two
    * `lead()`s over the per-user ordering turn each event into the
    * trigram it starts — one shuffle on `user_id` + a per-user sort, no
    * self-joins (the naive form joins events to itself twice on
    * adjacency). Path counts then partial-aggregate map-side on the path
    * string, the distinct-user count runs as the two-phase distinct
    * aggregate, and the top-20 is TakeOrderedAndProject — per-partition
    * heaps, no global sort. Ordering is (sec, event_id): the unique id
    * breaks same-second ties identically in both engines.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"),
        col("user_id"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  val topPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts)//1000000000 AS sec
      |  FROM events),
      |seq AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
      |SELECT event_type || '>' || e2 || '>' || e3 AS path,
      |       count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin

  // ------------------------------------- #117 cumulative distinct users
  /** Daily growth accounting: per day, the active distinct users, the NEW
    * users (first-ever appearance), and the running cumulative user count
    * — the classic growth dashboard query, which at scale is a distinct-
    * accumulation problem: a naive "distinct users up to day d" recomputes
    * a growing distinct per day (quadratic in days). The scale-correct
    * identity: cumulative distinct == running SUM of first-appearances,
    * so one shuffle on `user_id` (min first day per user), one day-level
    * count, and a window over the DAY frame — which after aggregation is
    * tens of rows, so the unpartitioned running-sum window is a no-op
    * cost, not a single-partition bottleneck (the heavy data never
    * reaches it).
    */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = withSec(Tables.events(spark, dir))
      .select(col("user_id"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd").as("day"))
    val firstDay = e.groupBy("user_id").agg(min(col("day")).as("day"))
    val newPerDay = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
    val activePerDay = e.distinct().groupBy("day")
      .agg(count(lit(1)).as("n_active"))
    activePerDay.join(newPerDay, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  val cumulativeUsersSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |         strftime(make_timestamp((epoch_ns(ts)//1000000000)*1000000),
      |                  '%Y-%m-%d') AS day
      |  FROM events),
      |fd AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
      |nw AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1),
      |ac AS (SELECT day, count(*) AS n_active FROM e GROUP BY 1)
      |SELECT ac.day AS day, CAST(n_active AS BIGINT) AS n_active,
      |       CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
      |       CAST(sum(COALESCE(n_new, 0)) OVER (ORDER BY ac.day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_users
      |FROM ac LEFT JOIN nw ON ac.day = nw.day
      |ORDER BY ac.day""".stripMargin

  // --------------------------------------- #119 last-touch attribution
  /** Last-touch marketing attribution: each purchase is credited to the
    * user's most recent PRECEDING click within a 7-day window, else
    * marked organic — the standard conversion-attribution join, expressed
    * as ONE window pass instead of a purchases⋈clicks self-join: the
    * running `last(click, ignoreNulls)` over (sec, event_id) order with a
    * rows-to-1-PRECEDING frame carries exactly the "latest click strictly
    * before me" state, so the event log shuffles once on `user_id` and
    * nothing is scanned twice. The 7-day recency filter is applied to the
    * carried value (a click older than the horizon attributes nothing).
    * Ties (click and purchase in the same second) resolve by event-id
    * order, mirrored by the oracle.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val horizon = 7L * 86400L
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("event_id"), col("sec"),
        col("event_type"), cents(col("value")).as("v_c"))
      .withColumn("last_click_sec",
        last(when(col("event_type") === "click", col("sec")), ignoreNulls = true).over(w))
      .withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("in_window",
        col("last_click_sec").isNotNull &&
          col("sec") - col("last_click_sec") <= horizon)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("ts"),
        (col("v_c") / 100.0).as("value"),
        when(col("in_window"), col("last_click_id")).as("attributed_click_id"),
        when(col("in_window"), "click").otherwise("organic").as("attribution"))
      .orderBy("user_id", "purchase_id")
  }

  val attributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000000 AS sec, event_type,
      |         CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events),
      |carried AS (
      |  SELECT user_id, event_id, sec, event_type, v_c,
      |         last_value(CASE WHEN event_type = 'click' THEN sec END IGNORE NULLS)
      |           OVER w AS last_click_sec,
      |         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |           OVER w AS last_click_id
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id AS purchase_id,
      |       strftime(make_timestamp(sec*1000000), '%Y-%m-%d %H:%M:%S') AS ts,
      |       v_c/100.0 AS value,
      |       CASE WHEN last_click_sec IS NOT NULL AND sec - last_click_sec <= 604800
      |            THEN last_click_id END AS attributed_click_id,
      |       CASE WHEN last_click_sec IS NOT NULL AND sec - last_click_sec <= 604800
      |            THEN 'click' ELSE 'organic' END AS attribution
      |FROM carried WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  // ------------------------------------------- #120 RFM user segmentation
  /** RFM segmentation — the classic customer-value split: per user,
    * Recency (days since last event, vs the log head), Frequency (event
    * count) and Monetary (whole currency units) are each bucketed into
    * quintiles, score 5 = best. Quintile CUTOFFS come from the
    * value-ordered (metric → user-count) histogram with nearest-rank
    * semantics and ties landing in the better bucket — the same
    * no-global-sort discipline as [[graft.analytics.TextOps.textPerplexityBucket]]:
    * cutoff derivation runs on the quantized metric DOMAINS (days since
    * head, event counts, whole units — all bounded far below user
    * cardinality by construction) and broadcasts four cutoffs per metric
    * back.
    *
    * Plan note (final plan read at sf0.01, round 11): the per-user fact
    * aggregate is MATERIALIZED ONCE as a [[graft.ops.DerivedZone]]
    * artifact (`events_user_facts`: user_id, max_sec, frequency, sum_v —
    * |users| rows, tiny next to the fact), so the events fact is scanned
    * and hash-aggregated exactly once per dataset; the three cutoff
    * derivations, the log-head literal AND the final scoring all read the
    * published zone parquet (the earlier shape re-derived the aggregate
    * under every branch — per-branch column pruning defeated
    * exchange-subtree reuse, 4× the fact scan+agg cost; ScanCountSpec now
    * pins the single-scan shape). Zone-backed reads are also
    * plan-canonicalization-stable, so the SQL face asserts full plan
    * identity. The head is NOT a separate fact job either: max(sec) ==
    * max over the zone's per-user max_sec. Metric division is integral
    * (`div`) on both engines — exact at any magnitude; the event domain
    * is non-negative (values are prices), where `div` (trunc) and the
    * oracle's `//` (floor) coincide.
    */
  private[graft] val userFactsMemo =
    new graft.ops.DerivedZone("events_user_facts", Seq("events.parquet"))

  /** Distinct user×day projection of the event log, published once per
    * dataset ([[graft.ops.DerivedZone]]) like [[userFactsMemo]]: the
    * engagement family ([[growth]], [[stickiness]]) all start from this
    * frame, and each re-deriving it would scan + distinct the fact per
    * query. |users|×|days| rows of two longs — tiny next to the log. */
  private[graft] val userDaysMemo =
    new graft.ops.DerivedZone("events_user_days", Seq("events.parquet"))

  private def userDays(spark: SparkSession, dir: String): DataFrame =
    userDaysMemo.get(spark, dir) {
      withSec(Tables.events(spark, dir))
        .select(col("user_id"), expr("sec div 86400").as("eday"))
        .distinct()
    }

  /** Distinct user×type projection, zone-published for the association
    * reads ([[cooccurrence]]) — ≤ |users|·|types| rows. */
  private[graft] val userTypesMemo =
    new graft.ops.DerivedZone("events_user_types", Seq("events.parquet"))

  private def userTypes(spark: SparkSession, dir: String): DataFrame =
    userTypesMemo.get(spark, dir) {
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type")).distinct()
    }

  private def userFacts(spark: SparkSession, dir: String): DataFrame =
    userFactsMemo.get(spark, dir) {
      withSec(Tables.events(spark, dir))
        .select(col("user_id"), col("sec"), cents(col("value")).as("v_c"))
        .groupBy("user_id").agg(
          max(col("sec")).as("max_sec"),
          count(lit(1)).as("frequency"),
          sum(col("v_c")).as("sum_v"))
    }

  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val facts = userFacts(spark, dir)
    val head = facts.agg(max(col("max_sec"))).first().getLong(0)
    val users = facts.select(col("user_id"),
      expr(s"($head - max_sec) div 86400").as("recency_days"),
      col("frequency"),
      expr("sum_v div 100").as("monetary_units"))
    // nearest-rank quintile cutoffs over the (metric, count) histogram;
    // `asc` metrics are better SMALL (recency), `desc` better LARGE
    def cutoffs(metric: String, asc: Boolean): DataFrame = {
      val hist = users.groupBy(col(metric).as("v")).agg(count(lit(1)).as("cnt"))
      val ord = if (asc) col("v").asc else col("v").desc
      val wCum = Window.orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val cum = hist.withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(wAll))
      val pick: Column => Column = if (asc) min(_) else max(_)
      cum.agg(
        pick(when(col("cum") >= expr("(1 * n + 4) div 5"), col("v"))).as(s"${metric}_c1"),
        pick(when(col("cum") >= expr("(2 * n + 4) div 5"), col("v"))).as(s"${metric}_c2"),
        pick(when(col("cum") >= expr("(3 * n + 4) div 5"), col("v"))).as(s"${metric}_c3"),
        pick(when(col("cum") >= expr("(4 * n + 4) div 5"), col("v"))).as(s"${metric}_c4"))
    }
    def score(metric: String, asc: Boolean): Column = {
      val cmp: (Column, Column) => Column =
        if (asc) (m, c) => m <= c else (m, c) => m >= c
      when(cmp(col(metric), col(s"${metric}_c1")), 5)
        .when(cmp(col(metric), col(s"${metric}_c2")), 4)
        .when(cmp(col(metric), col(s"${metric}_c3")), 3)
        .when(cmp(col(metric), col(s"${metric}_c4")), 2)
        .otherwise(1)
    }
    users
      .crossJoin(broadcast(cutoffs("recency_days", asc = true)))
      .crossJoin(broadcast(cutoffs("frequency", asc = false)))
      .crossJoin(broadcast(cutoffs("monetary_units", asc = false)))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_units"),
        score("recency_days", asc = true).as("r_score"),
        score("frequency", asc = false).as("f_score"),
        score("monetary_units", asc = false).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  val rfmSql: String = {
    def cutSql(metric: String, asc: Boolean): String = {
      val ord = if (asc) "ASC" else "DESC"
      val pick = if (asc) "min" else "max"
      s"""${metric}_cuts AS (
        |  SELECT $pick(CASE WHEN cum >= (1 * n + 4) // 5 THEN v END) AS ${metric}_c1,
        |         $pick(CASE WHEN cum >= (2 * n + 4) // 5 THEN v END) AS ${metric}_c2,
        |         $pick(CASE WHEN cum >= (3 * n + 4) // 5 THEN v END) AS ${metric}_c3,
        |         $pick(CASE WHEN cum >= (4 * n + 4) // 5 THEN v END) AS ${metric}_c4
        |  FROM (
        |    SELECT v, CAST(sum(cnt) OVER (ORDER BY v $ord
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |           CAST(sum(cnt) OVER () AS BIGINT) AS n
        |    FROM (SELECT $metric AS v, count(*) AS cnt FROM users GROUP BY 1)))""".stripMargin
    }
    def scoreSql(metric: String, asc: Boolean): String = {
      val op = if (asc) "<=" else ">="
      s"""CASE WHEN $metric $op ${metric}_c1 THEN 5
        |            WHEN $metric $op ${metric}_c2 THEN 4
        |            WHEN $metric $op ${metric}_c3 THEN 3
        |            WHEN $metric $op ${metric}_c4 THEN 2
        |            ELSE 1 END""".stripMargin
    }
    s"""WITH e AS (
      |  SELECT user_id, epoch_ns(ts)//1000000000 AS sec,
      |         CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events),
      |h AS (SELECT max(sec) AS head FROM e),
      |users AS (
      |  SELECT user_id,
      |         CAST(((SELECT head FROM h) - max(sec)) // 86400 AS BIGINT) AS recency_days,
      |         count(*) AS frequency,
      |         CAST(sum(v_c) // 100 AS BIGINT) AS monetary_units
      |  FROM e GROUP BY 1),
      |${cutSql("recency_days", asc = true)},
      |${cutSql("frequency", asc = false)},
      |${cutSql("monetary_units", asc = false)},
      |scored AS (
      |  SELECT user_id, recency_days, frequency, monetary_units,
      |         ${scoreSql("recency_days", asc = true)} AS r_score,
      |         ${scoreSql("frequency", asc = false)} AS f_score,
      |         ${scoreSql("monetary_units", asc = false)} AS m_score
      |  FROM users, recency_days_cuts, frequency_cuts, monetary_units_cuts)
      |SELECT user_id, recency_days, frequency, monetary_units,
      |       r_score, f_score, m_score,
      |       r_score * 100 + f_score * 10 + m_score AS rfm
      |FROM scored ORDER BY user_id""".stripMargin
  }

  // -------------------------------------- #121 event-type Markov chain
  /** First-order Markov transition matrix of the event stream: for every
    * ordered pair of event types, how often one follows the other inside
    * a user's timeline, and the conditional probability P(next | current).
    * The behavioral-model summary (journey simulation, anomaly priors,
    * funnel discovery) a session store derives from its raw stream.
    *
    * Shape: ONE shuffle on `user_id` feeds a per-partition ordered `lead`
    * pass (ties broken by `event_id`, oracle-mirrored), then the pair
    * aggregate — map-side combined into at most |types|² rows, so the
    * second exchange and the per-current-type normalizing window are
    * O(types²) no matter the corpus size. The one division happens once
    * per OUTPUT row on two exact longs; both engines compute the same
    * IEEE double.
    */
  def markov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val total = Window.partitionBy("event_type")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum("n").over(total))
      .orderBy("event_type", "next_type")
  }

  val markovSql: String =
    """WITH s AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY epoch_ns(ts), event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type, next_type, count(*) AS n
      |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |       n / CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS p
      |FROM pairs ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------- #122 fixed-width value histogram
  /** $10-bucket histogram of event value per event type — the dashboard
    * distribution primitive. Buckets are computed in exact integer cents
    * with INTEGER division (`c div 1000` on both faces — no float op
    * anywhere in the edge math), so bucket edges can never disagree
    * between engines. Event values are non-negative by schema, so
    * truncating division IS floor division here; per-bucket totals stay
    * integral to the end.
    *
    * Scale shape: the bucket key is derived per row before the ONLY
    * exchange, partial aggregation collapses each partition to its
    * (type, bucket) counts map-side, and the result is bounded by
    * |types| × |buckets| — a 100 TB scan shuffles kilobytes.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("c"))
      .withColumn("bucket", expr("c div 1000"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("c")) / 100.0).as("total_value"))
      .withColumn("bucket_lo", col("bucket") * 10.0)
      .select("event_type", "bucket", "bucket_lo", "n_events", "total_value")
      .orderBy("event_type", "bucket")

  val valueHistogramSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events)
      |SELECT event_type,
      |       c // 1000 AS bucket,
      |       (c // 1000) * 10.0 AS bucket_lo,
      |       count(*) AS n_events,
      |       CAST(sum(c) AS BIGINT) / 100.0 AS total_value
      |FROM e GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  // ------------------------------------- #127 inactivity / dormancy profile
  /** Per-user inactivity profile: event count, the longest gap between
    * consecutive events, and seconds dormant since the last event (against
    * the stream head) — the churn-risk signal that complements
    * [[rfm]]'s recency quintile with the gap STRUCTURE behind it.
    *
    * Gap determinism: `lag` over second-floored times partitioned by user
    * — equal-timestamp ties order arbitrarily, but the sorted second
    * sequence is the same multiset either way, so the gap multiset (and
    * its max) is order-independent. The head is re-aggregated from the
    * per-user frame (|users| rows, a tiny second aggregate broadcast back
    * — never a second pass over the fact at full width), mirrored by the
    * oracle's scalar subquery over the same CTE. One user_id exchange
    * carries everything.
    */
  def inactivity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec")
    val perUser = withSec(Tables.events(spark, dir))
      .select(col("user_id"), col("sec"))
      .withColumn("gap", col("sec") - lag("sec", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap_sec"),
        max(col("sec")).as("last_sec"))
    val head = perUser.agg(max(col("last_sec")).as("head"))
    perUser.crossJoin(broadcast(head))
      .select(col("user_id"), col("n_events"), col("max_gap_sec"),
        (col("head") - col("last_sec")).as("dormant_sec"))
      .orderBy("user_id")
  }

  val inactivitySql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts)//1000000000 AS sec FROM events),
      |g AS (
      |  SELECT user_id, sec,
      |         sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS gap
      |  FROM e),
      |u AS (
      |  SELECT user_id, count(*) AS n_events,
      |         CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_sec,
      |         max(sec) AS last_sec
      |  FROM g GROUP BY 1)
      |SELECT user_id, n_events, max_gap_sec,
      |       CAST((SELECT max(last_sec) FROM u) - last_sec AS BIGINT) AS dormant_sec
      |FROM u ORDER BY user_id""".stripMargin

  // ------------------------------------------ #133 growth accounting
  /** #133 events_growth: daily growth accounting — every active user-day
    * classified as NEW (first day ever), RETAINED (also active the
    * previous calendar day) or RESURRECTED (returning after a gap), so
    * `n_active = n_new + n_retained + n_resurrected` row by row. The
    * standard DAU decomposition a product/data team watches; the same
    * decomposition drives corpus-freshness accounting when `user_id` is
    * a content feed.
    *
    * Scale shape: starts from the [[userDays]] zone (the event log
    * collapsed ONCE per dataset to the distinct user×day frame, exact
    * integer epoch-day); the previous-active-day lookup is one `lag`
    * inside the user partition, and the classified frame re-aggregates
    * onto the bounded day key — |days| output rows from one shuffle of
    * the already-collapsed frame. Classification is exact integer day
    * math; the calendar label is formatted from the epoch-day at emit.
    */
  def growth(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("eday")
    userDays(spark, dir)
      .withColumn("prev", lag("eday", 1).over(byUser))
      .withColumn("cls",
        when(col("prev").isNull, "new")
          .when(col("prev") === col("eday") - 1, "retained")
          .otherwise("resurrected"))
      .groupBy("eday")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
      .select(
        date_format(timestamp_seconds(col("eday") * 86400), "yyyy-MM-dd").as("day"),
        col("n_active"), col("n_new"), col("n_retained"), col("n_resurrected"))
      .orderBy("day")
  }

  val growthSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000//86400 AS eday FROM events),
      |cls AS (
      |  SELECT eday,
      |         lag(eday) OVER (PARTITION BY user_id ORDER BY eday) AS prev
      |  FROM ud)
      |SELECT strftime(make_timestamp(eday*86400*1000000), '%Y-%m-%d') AS day,
      |       count(*) AS n_active,
      |       CAST(count(*) FILTER (WHERE prev IS NULL) AS BIGINT) AS n_new,
      |       CAST(count(*) FILTER (WHERE prev = eday - 1) AS BIGINT) AS n_retained,
      |       CAST(count(*) FILTER (WHERE prev IS NOT NULL AND prev <> eday - 1) AS BIGINT) AS n_resurrected
      |FROM cls GROUP BY eday ORDER BY day""".stripMargin

  // --------------------------------------- #135 behavior co-occurrence
  /** #135 events_cooccurrence: event-type co-occurrence / lift matrix —
    * for every unordered type pair, how many users did BOTH, and the
    * lift `P(a∧b) / (P(a)·P(b)) = n_both·N / (n_a·n_b)` that says whether
    * the behaviors attract or repel (lift > 1 = co-occurring). The
    * association read behind "users who did A also did B" feature
    * engineering and event-taxonomy audits.
    *
    * Scale shape: starts from the [[userTypes]] zone (the log collapsed
    * once per dataset to the distinct user×type frame); the pair space per user is
    * ≤ |types|² (types are a bounded vocabulary, so the self-join inside
    * each user is constant work); the pair aggregate is map-side
    * combined onto ≤ |types|² output rows, and the per-type marginals +
    * user total BROADCAST back onto that bounded frame. Lift is one
    * double division per output row, identically associated in both
    * engines, rounded to 6.
    */
  def cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ut = userTypes(spark, dir)
    val marg = ut.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n_t"))
    val total = ut.select(countDistinct(col("user_id")).as("n_users"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.withColumnRenamed("t", "type_a")
        .withColumnRenamed("n_t", "n_a")), "type_a")
      .join(broadcast(marg.withColumnRenamed("t", "type_b")
        .withColumnRenamed("n_t", "n_b")), "type_b")
      .crossJoin(broadcast(total))
      .withColumn("lift",
        round((col("n_both").cast("double") * col("n_users")) /
          (col("n_a").cast("double") * col("n_b")), 6))
      .select("type_a", "type_b", "n_both", "n_a", "n_b", "lift")
      .orderBy("type_a", "type_b")
  }

  val cooccurrenceSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |marg AS (SELECT event_type AS t, count(*) AS n_t FROM ut GROUP BY 1),
      |total AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, ma.n_t AS n_a, mb.n_t AS n_b,
      |       round((CAST(n_both AS DOUBLE) * n_users) /
      |             (CAST(ma.n_t AS DOUBLE) * mb.n_t), 6) AS lift
      |FROM pairs
      |JOIN marg ma ON type_a = ma.t
      |JOIN marg mb ON type_b = mb.t
      |CROSS JOIN total
      |ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------- #136 DAU/MAU stickiness
  /** #136 events_stickiness: per-day DAU, trailing-30-day MAU, and the
    * DAU/MAU stickiness ratio in exact ppm — the engagement-density
    * metric product teams track; over a content corpus it reads as
    * "fraction of the month's active feeds active today".
    *
    * Scale shape: starts from the [[userDays]] zone, and the MAU side is
    * an INTERVAL SWEEP, not a fan-out — a user active on `eday` is in
    * the MAU of days `[eday, eday+29]`, so each user's overlapping
    * windows merge into maximal covered intervals (one `lag` + running
    * sum inside the user partition), every interval emits a +1/−1 delta
    * pair on the day axis, and MAU(d) is the running delta sum over that
    * BOUNDED frame. (The first shape fanned every user-day out to its 30
    * target days and deduplicated — a 30× multiply of the frame plus a
    * wide distinct; measured 21.6–84 s at ×100 where the sweep needs the
    * one user shuffle the window already pays. The oracle keeps the
    * naive fan-out formulation — same exact counts, provably: a merged
    * interval covers d iff some eday ∈ [d−29, d].) Days with no events
    * emit nothing (both engines join back to observed days).
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = userDays(spark, dir)
    val dau = ud.groupBy("eday").agg(count(lit(1)).as("dau"))
    val byUser = Window.partitionBy("user_id").orderBy("eday")
    val intervals = ud
      .withColumn("prev", lag("eday", 1).over(byUser))
      .withColumn("newint",
        when(col("prev").isNull || col("eday") > col("prev") + 29, 1L)
          .otherwise(0L))
      .withColumn("intid", sum("newint").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "intid")
      .agg(min("eday").as("s"), (max("eday") + 29).as("e"))
    val deltas = intervals
      .select(explode(array(
        struct(col("s").as("d"), lit(1L).as("delta")),
        struct((col("e") + 1).as("d"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.d").as("d"), col("x.delta").as("delta"))
      .groupBy("d").agg(sum("delta").as("delta"))
    // bounded |days|-scale frame from here on: the delta points carry the
    // sweep, the observed days are unioned in at delta 0 so every DAU day
    // has a row to read its running MAU from
    val axis = deltas.unionByName(
        dau.select(col("eday").as("d"), lit(0L).as("delta")))
      .groupBy("d").agg(sum("delta").as("delta"))
    val mau = axis.withColumn("mau", sum("delta").over(
      Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    dau.join(mau, dau("eday") === mau("d"))
      .select(
        date_format(timestamp_seconds(col("eday") * 86400), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"))
      .withColumn("stickiness_ppm", expr("dau * 1000000L div mau"))
      .orderBy("day")
  }

  val stickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts)//1000000000//86400 AS eday FROM events),
      |dau AS (SELECT eday, count(*) AS dau FROM ud GROUP BY 1),
      |fan AS (
      |  SELECT DISTINCT user_id, d FROM (
      |    SELECT user_id, unnest(generate_series(eday, eday + 29)) AS d FROM ud)),
      |mau AS (SELECT d, count(*) AS mau FROM fan GROUP BY 1)
      |SELECT strftime(make_timestamp(eday*86400*1000000), '%Y-%m-%d') AS day,
      |       dau, mau, dau * 1000000 // mau AS stickiness_ppm
      |FROM dau JOIN mau ON eday = d
      |ORDER BY day""".stripMargin

  // ---------------------------------------- #138 weekly seasonality map
  /** #138 events_seasonality: the hour-of-day × day-of-week traffic map
    * (counts + share of total in exact ppm) — the load-shape read behind
    * capacity planning, anomaly baselines ("is Tuesday 3am supposed to
    * be this hot?") and crawl scheduling. Day 0 = Sunday (epoch day 0,
    * 1970-01-01, was a Thursday: dow = (eday + 4) mod 7).
    *
    * Scale shape: both keys derive per row in exact integer math BEFORE
    * the only exchange, the aggregate collapses map-side onto the ≤ 168
    * cell keys, and the share denominator is a window over that bounded
    * frame (unpartitioned — safe ONLY because the frame is ≤ 168 rows) —
    * a 100 TB scan shuffles kilobytes, nothing driver-side.
    */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    withSec(Tables.events(spark, dir))
      .select(expr("(sec div 86400 + 4) % 7").as("day_of_week"),
        expr("sec div 3600 % 24").as("hour_of_day"))
      .groupBy("day_of_week", "hour_of_day")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("share_ppm", expr("n * 1000000L div total"))
      .select("day_of_week", "hour_of_day", "n", "share_ppm")
      .orderBy("day_of_week", "hour_of_day")
  }

  val seasonalitySql: String =
    """WITH cells AS (
      |  SELECT (epoch_ns(ts)//1000000000//86400 + 4) % 7 AS day_of_week,
      |         epoch_ns(ts)//1000000000//3600 % 24 AS hour_of_day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT day_of_week, hour_of_day, n,
      |       n * 1000000 // CAST(sum(n) OVER () AS BIGINT) AS share_ppm
      |FROM cells ORDER BY day_of_week, hour_of_day""".stripMargin

  // -------------------------------------- #139 activity concentration
  /** #139 events_concentration: how concentrated the event stream is in
    * its heaviest users — per RANK DECADE of the activity-ranked user
    * list (ranks 1–9 / 10–99 / 100–999), user count, event mass, and
    * share of ALL events in exact ppm. The abuse/bot-concentration read
    * ("the top decade of feeds produces X% of the stream") that decides
    * rate caps and dedup priorities; over a crawl corpus it is the
    * host-concentration diagnostic.
    *
    * Scale discipline is [[graft.analytics.TextOps.textZipf]]'s, applied
    * to users: NO global sort of the user list — per-user counts
    * collapse to the distinct-FREQUENCY histogram (bounded by the
    * heaviest user's count, not user cardinality), each frequency maps
    * to its exact rank interval by a cumulative window over that tiny
    * frame, and decade membership is integer interval overlap.
    * Frequency-tied users are interchangeable for every emitted
    * statistic, so the oracle's naive `row_number` form is provably
    * equal regardless of tie order. Share denominator is the exact
    * total event count — re-aggregated from the HISTOGRAM (Σ f·n_users),
    * not a second fact scan.
    */
  def concentration(spark: SparkSession, dir: String): DataFrame = {
    val uf = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("f"))
    val hist = uf.groupBy("f").agg(count(lit(1)).as("nu"))
    val w = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spanned = hist
      .withColumn("lo", lit(1L) + coalesce(sum("nu").over(w), lit(0L)))
      .withColumn("hi", col("lo") + col("nu") - 1)
    val total = hist.agg(sum(col("f") * col("nu")).as("total"))
    spanned
      .select(col("f"), col("lo"), col("hi"),
        explode(array(lit(1), lit(2), lit(3))).as("decade"))
      .withColumn("dlo", pow(lit(10.0), col("decade") - 1).cast("long"))
      .withColumn("dhi", least(pow(lit(10.0), col("decade")).cast("long") - 1, lit(999L)))
      .withColumn("overlap",
        greatest(lit(0L), least(col("hi"), col("dhi")) - greatest(col("lo"), col("dlo")) + 1))
      .filter(col("overlap") > 0)
      .groupBy("decade")
      .agg(sum("overlap").as("n_users"),
        sum(col("f") * col("overlap")).as("n_events"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("n_events * 1000000L div total"))
      .select("decade", "n_users", "n_events", "share_ppm")
      .orderBy("decade")
  }

  val concentrationSql: String =
    """WITH uf AS (
      |  SELECT user_id, count(*) AS f FROM events GROUP BY 1),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, user_id) AS r FROM uf),
      |total AS (SELECT count(*) AS total FROM events)
      |SELECT length(CAST(r AS VARCHAR)) AS decade,
      |       count(*) AS n_users,
      |       CAST(sum(f) AS BIGINT) AS n_events,
      |       CAST(sum(f) AS BIGINT) * 1000000 // total AS share_ppm
      |FROM ranked CROSS JOIN total
      |WHERE r <= 999 GROUP BY decade, total ORDER BY decade""".stripMargin

  // ----------------------------------------------- #141 bot screening
  /** Bot/automation screening: the 20 hottest users by sustained event
    * rate, with the activity-shape columns an abuse review reads — event
    * count, active span, events per ksec of span, distinct active hours,
    * and events per active hour (a human's rate collapses when idle
    * hours are excluded; a bot's doesn't). All columns are exact integer
    * math (integer division), so the gate is hash-exact.
    *
    * Scale shape: the per-user frame is built by TWO-LEVEL aggregation —
    * events collapse onto (user, hour) cells map-side first, so the
    * distinct-hour count never holds per-event state and the one shuffle
    * carries at most users × active-hours rows; the top-20 plans as
    * TakeOrdered (each partition keeps 20 candidates — no global sort).
    */
  def botDetect(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("ts div 1000000000L").as("sec"))
    val perHour = ev
      .select(col("user_id"), expr("sec div 3600L").as("hour"), col("sec"))
      .groupBy("user_id", "hour")
      .agg(count(lit(1)).as("n"), min("sec").as("mn"), max("sec").as("mx"))
    val perUser = perHour.groupBy("user_id")
      .agg(sum("n").as("n_events"),
        count(lit(1)).as("n_active_hours"),
        (max("mx") - min("mn")).as("active_sec"))
      .withColumn("rate_per_ksec",
        expr("n_events * 1000L div greatest(active_sec, 1L)"))
      .withColumn("events_per_hour", expr("n_events div n_active_hours"))
    val top = perUser
      .orderBy(col("rate_per_ksec").desc, col("n_events").desc, col("user_id").asc)
      .limit(20)
    top.select(
        row_number().over(Window
          .orderBy(col("rate_per_ksec").desc, col("n_events").desc, col("user_id").asc))
          .cast("long").as("rank"),
        col("user_id"), col("n_events"), col("n_active_hours"),
        col("active_sec"), col("rate_per_ksec"), col("events_per_hour"))
      .orderBy("rank")
  }

  val botDetectSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
      |h AS (
      |  SELECT user_id, sec // 3600 AS hour, count(*) AS n,
      |         min(sec) AS mn, max(sec) AS mx
      |  FROM e GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
      |         count(*) AS n_active_hours,
      |         max(mx) - min(mn) AS active_sec
      |  FROM h GROUP BY 1),
      |s AS (
      |  SELECT user_id, n_events, n_active_hours, active_sec,
      |         n_events * 1000 // greatest(active_sec, 1) AS rate_per_ksec,
      |         n_events // n_active_hours AS events_per_hour
      |  FROM u)
      |SELECT rank, user_id, n_events, n_active_hours, active_sec,
      |       rate_per_ksec, events_per_hour FROM (
      |  SELECT row_number() OVER (
      |           ORDER BY rate_per_ksec DESC, n_events DESC, user_id ASC) AS rank,
      |         user_id, n_events, n_active_hours, active_sec,
      |         rate_per_ksec, events_per_hour
      |  FROM s) t
      |WHERE rank <= 20 ORDER BY rank""".stripMargin
}
