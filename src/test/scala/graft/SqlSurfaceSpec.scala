package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL entry surface: a session that knows nothing of the Scala
  * API drives the engine through registered views + `graft_*` functions.
  * This is the landing path for a SQL-only user of the reference engine.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("registered views + functions run analytics from plain SQL") {
    Tables.registerAll(spark, sf)

    val agg = spark.sql(
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    assert(agg.count() > 0)

    // native kernels resolve by name in SQL
    val sig = spark.sql(
      "SELECT doc_id, graft_polyhash(text) AS h FROM documents ORDER BY doc_id LIMIT 5")
    assert(sig.collect().forall(_.getLong(1) >= 0))

    // the nanos-ts events table is usable directly (registerAll routes it
    // through the nanosAsLong loader)
    val ev = spark.sql(
      "SELECT user_id, count(*) AS n FROM events GROUP BY user_id")
    assert(ev.count() > 0)

    // a cross-view join, purely in SQL
    val joined = spark.sql(
      """SELECT n_name, count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_cust DESC LIMIT 3""".stripMargin)
    assert(joined.count() == 3)
  }

  test("engine search surface drives from pure SQL: paginated listing round-trip") {
    import graft.compact.Compactor
    import graft.tools.Populator
    val landing = SparkTestSession.tempDir("sqlsurf-landing")
    val staging = SparkTestSession.tempDir("sqlsurf-staging")
    Populator.populateLanding(spark, landing, "sb", 25, groupInterval = 10L)
    new Compactor(spark, landing, staging).compactBucket("sb", 1)
    val engine = new GraftEngine(spark,
      GraftConfig(landing, staging, SparkTestSession.tempDir("sqlsurf-ckpt")))
    engine.registerSqlSurface()

    // page 1 in pure SQL
    val p1 = spark.sql(
      "SELECT name FROM graft_list_objects('sb', '', '', '', 10)")
      .collect().map(_.getString(0)).toSeq
    assert(p1.size == 10 && p1 == p1.sorted)
    // keyset round-trip: the cursor is the previous page's last name
    val p2 = spark.sql(
      s"SELECT name FROM graft_list_objects('sb', '', '', '${p1.last}', 10)")
      .collect().map(_.getString(0)).toSeq
    assert(p2.size == 10 && p2.forall(_ > p1.last))
    assert((p1.toSet & p2.toSet).isEmpty)
    // the SQL pages tile the same listing the Scala API returns
    val api = engine.listObjects(graft.search.ListRequest("sb", maxKeys = 20))
      .collect().map(_.getString(1)).toSeq
    assert(p1 ++ p2 == api)

    // delimiter rollup + predicate search + version history, all SQL-only
    val roll = spark.sql(
      "SELECT stratum, name, n_keys FROM graft_list_objects('sb', '', '_', '', 10)")
      .collect()
    assert(roll.length == 1 && roll.head.getString(0) == "common_prefix" &&
      roll.head.getLong(2) == 25L)
    val found = spark.sql(
      "SELECT key FROM graft_search('sb', '`content-length` >= 0', '', 1000)")
    assert(found.count() == 25)
    val vers = spark.sql(
      "SELECT key, version_id, is_latest FROM graft_list_versions('sb', '', '', 1000)")
    assert(vers.count() == 25)
    // a SQL consumer can compose the table function like any relation
    val joined = spark.sql(
      """SELECT v.key FROM graft_list_versions('sb', '', '', 1000) v
        |JOIN graft_list_objects('sb', '', '', '', 1000) o ON v.key = o.name
        |WHERE v.is_latest = 1 ORDER BY v.key""".stripMargin)
    assert(joined.count() == 25)
    engine.close()
  }

  test("graft_search's limit must fit an int: a larger BIGINT fails naming the function and argument") {
    val landing = SparkTestSession.tempDir("sqlsurf-limit-landing")
    val staging = SparkTestSession.tempDir("sqlsurf-limit-staging")
    graft.tools.Populator.populateLanding(spark, landing, "sb", 5, groupInterval = 10L)
    val engine = new GraftEngine(spark,
      GraftConfig(landing, staging, SparkTestSession.tempDir("sqlsurf-limit-ckpt")))
    try {
      engine.registerSqlSurface()
      val err = intercept[Exception](
        spark.sql("SELECT key FROM graft_search('sb', '', '', 4294967297L)").collect())
      assert(err.getMessage.contains("graft_search: limit must be an integer literal") &&
        err.getMessage.contains("4294967297 out of int range"), err.getMessage)
      val frac = intercept[Exception](
        spark.sql("SELECT key FROM graft_search('sb', '', '', 2.5D)").collect())
      assert(frac.getMessage.contains("graft_search: limit must be an integer literal") &&
        frac.getMessage.contains("got Double literal"), frac.getMessage)
      assert(spark.sql("SELECT key FROM graft_search('sb', '', '', 2L)").count() == 2)
    } finally engine.close()
  }

  test("analytics suite drives from pure SQL with plan-identical results over EVERY key") {
    GraftEngine.registerAnalyticsSurface(spark, sf)
    // Keys whose canonicalized plans legitimately differ between two
    // builds of the SAME query — measured (tools run, 2026-08-14), two
    // root causes, none of them a surface drift:
    //  - typed-lambda nodes (MapElements holds a fresh closure instance
    //    per build, reference equality): mm_resize.
    //  - Catalyst rewrite nondeterminism (RewriteDistinctAggregates gid
    //    assignment; bloom-filter/isnotnull conjunct order):
    //    q_distinct_agg, knn_pq, knn_pq_recall.
    // These are asserted by ROW equality instead. Every OTHER key must be
    // plan-identical (canonicalized sameResult): the loop runs the FULL
    // SparkEntry.queries keyset so the SQL face cannot drift operator by
    // operator. No query path carries an in-memory lineage cut: every
    // reused stage is a DerivedZone-published artifact, so both builds
    // scan the same zone files, and a localCheckpoint appears only inside
    // a zone's build closure, which neither face ever sees.
    val unstableCanonicalization = Set(
      "mm_resize",
      "q_distinct_agg", "knn_pq", "knn_pq_recall")
    val planDrift = scala.collection.mutable.ListBuffer.empty[String]
    for (k <- SparkEntry.queries.keySet.toSeq.sorted) {
      val api = SparkEntry.queries(k)(spark, sf)
      val sql = spark.sql(s"SELECT * FROM graft_query('$k')")
      if (unstableCanonicalization(k)) {
        assert(sql.collect().toSeq == api.collect().toSeq,
          s"$k: the SQL face returns different rows than the Scala face")
      } else if (!sql.queryExecution.optimizedPlan
          .sameResult(api.queryExecution.optimizedPlan)) planDrift += k
    }
    assert(planDrift.isEmpty,
      s"SQL face plans differently from the Scala face for: ${planDrift.mkString(", ")}")
    // a representative slice additionally asserted ROW-identical (plan
    // identity alone can't catch a broken surface registration that
    // errors at execution)
    val slice = Seq(
      "q1_agg", "q5_join", "q_window_topk", "events_funnel", // §2.2
      "dedup_exact", "dedup_minhash_lsh",                    // §2.3
      "knn_lsh", "knn_brute",                                // §2.4
      "text_quality", "corpus_mixture")                      // §2.5
    for (k <- slice) {
      val api = SparkEntry.queries(k)(spark, sf)
      val sql = spark.sql(s"SELECT * FROM graft_query('$k')")
      assert(sql.collect().toSeq == api.collect().toSeq,
        s"$k: the SQL face returns different rows than the Scala face")
    }
    // the spliced plan composes like any relation: outer operators apply
    // on top, and the whole thing stays one Catalyst-planned query
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft_query('q1_agg')").head().getLong(0)
    assert(n == SparkEntry.queries("q1_agg")(spark, sf).count())
    val joined = spark.sql(
      """SELECT a.l_returnflag FROM graft_query('q1_agg') a
        |JOIN graft_query('q1_agg') b ON a.l_returnflag = b.l_returnflag
        |  AND a.l_linestatus = b.l_linestatus
        |ORDER BY 1""".stripMargin)
    assert(joined.count() == n)
    // unknown keys fail at analysis with the full key inventory, not at run
    val err = intercept[Exception](spark.sql("SELECT * FROM graft_query('nope')"))
    assert(err.getMessage.contains("unknown query"))
  }

  test("pushdown and pruning survive the view layer") {
    Tables.registerAll(spark, sf)
    val q = spark.sql("SELECT doc_id, lang FROM documents WHERE doc_id < 10")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan under the view"))
    assert(scan.metadata.getOrElse("PushedFilters", "")
      .contains("LessThan(doc_id,10)"), "predicate lost at the view boundary")
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "lang"),
      "column pruning lost at the view boundary")
  }
}
