package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Admission control for user-supplied queries.
  *
  * The search surface accepts arbitrary WHERE clauses
  * ([[MetadataSearch]]), and at 100 TB the difference between a keyed
  * lookup and a typo'd cross join is a cluster-day. The guard audits the
  * PHYSICAL plan before execution — what Catalyst actually decided, not
  * what the query text suggests — and rejects:
  *
  *  - cartesian products / nested-loop joins (a join that degenerated
  *    because its condition didn't survive as an equi-join);
  *  - scans whose total input size exceeds a byte budget;
  *  - full-table scans that reached the reader with NO pushed data filter
  *    and NO partition filter (the signature of a predicate that failed
  *    to push — e.g. a cast or UDF wrapping the filter column).
  *
  * The audit walks `sparkPlan` (pre-AQE: admission happens before
  * runtime re-planning) including subquery plans. Deliberately a
  * standalone gate, not wired into the analytics API — `knn_brute`'s
  * broadcast-nested-loop scan is intentional there.
  */
object PlanGuard {

  final case class Audit(
      cartesian: Boolean,
      nestedLoop: Boolean,
      scanBytes: BigInt,
      unfilteredScans: Seq[String]) {
    def ok(maxScanBytes: BigInt, allowUnfiltered: Boolean): Boolean =
      !cartesian && !nestedLoop && scanBytes <= maxScanBytes &&
        (allowUnfiltered || unfilteredScans.isEmpty)
  }

  /** True when `plan` provably produces at most one row — a global
    * (no-grouping-key) aggregate, under any exchange/projection wrapping.
    * A scalar-subquery broadcast plans as BroadcastNestedLoopJoin too,
    * and rejecting it would bar legitimate "compare to the global max"
    * search predicates; a one-row build side cannot degenerate (the
    * "nested loop" is one pass over the probe side).
    */
  private def singleRow(plan: SparkPlan): Boolean = plan match {
    case e: BroadcastExchangeExec => singleRow(e.child)
    case p: ProjectExec => singleRow(p.child)
    case f: org.apache.spark.sql.execution.FilterExec => singleRow(f.child)
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _ => false
  }

  private def degenerateNestedLoop(j: BroadcastNestedLoopJoinExec): Boolean =
    !singleRow(if (j.buildSide == BuildLeft) j.left else j.right)

  def audit(df: DataFrame): Audit = {
    val plan: SparkPlan = df.queryExecution.sparkPlan
    val nodes = plan.collectWithSubqueries { case p => p }
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    Audit(
      cartesian = nodes.exists(_.isInstanceOf[CartesianProductExec]),
      nestedLoop = nodes.exists {
        case j: BroadcastNestedLoopJoinExec => degenerateNestedLoop(j)
        case _ => false
      },
      scanBytes = scans.map(s => BigInt(s.relation.location.sizeInBytes)).sum,
      unfilteredScans = scans
        .filter(s => s.dataFilters.isEmpty && s.partitionFilters.isEmpty)
        .map(_.relation.location.rootPaths.mkString(",")))
  }

  /** Per-table count of file scans over the named base tables in the
    * ADAPTIVE-FINAL executed plan of `df` — the query is executed first
    * (`toRdd.count()`, no rows to the driver) so AQE stage decisions,
    * exchange reuse included, are what gets counted. Subquery plans are
    * traversed; reused exchanges and reused subqueries are NOT
    * double-counted (a reuse reads shuffle files, not the table).
    *
    * This is the regression net for the "silently re-derived fact
    * subtree" defect class (events_rfm round 10: per-branch column
    * pruning defeated exchange reuse and the events fact was scanned and
    * hash-aggregated 4×): ScanCountSpec asserts a declared per-query
    * budget over the big tables, so a refactor that re-scans a fact N×
    * fails the suite instead of shipping N× scan cost to the cluster.
    * Driver-resolved literal jobs and DerivedZone builds run OUTSIDE the
    * query's own plan and are not counted — they are once-per-dataset
    * (zone) or tiny-aggregate jobs, not per-execution fact scans.
    *
    * A cached relation in the plan throws: query paths reuse derived work
    * through [[graft.ops.DerivedZone]], and a cache's reads cannot be told
    * from its build scan here, so a count over one would be a guess.
    */
  def factScanCounts(df: DataFrame, tables: Seq[String]): Map[String, Int] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.{ExecSubqueryExpression, ReusedSubqueryExec}
    df.queryExecution.toRdd.count()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here: Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case _: ReusedExchangeExec => Nil
        case im: InMemoryTableScanExec =>
          throw new IllegalStateException(
            s"PlanGuard.factScanCounts: cached relation in the plan (${im.simpleString(8)}); " +
              "reuse derived work through a DerivedZone")
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      here ++ p.expressions.flatMap(_.collect {
        case sub: ExecSubqueryExpression => sub.plan match {
          case _: ReusedSubqueryExec => Nil
          case bp => scans(bp)
        }
      }.flatten)
    }
    val all = scans(df.queryExecution.executedPlan)
    tables.map(t => t -> all.count(
      _.relation.location.rootPaths.exists(_.toString.contains(s"/$t.parquet")))).toMap
  }

  /** Throw before any task launches if the plan violates the budget.
    * Returns `df` unchanged when admitted, so it chains into the query
    * path: `PlanGuard.admit(search(q))`.
    */
  def admit(df: DataFrame, maxScanBytes: BigInt = BigInt(Long.MaxValue),
            allowUnfiltered: Boolean = true): DataFrame = {
    val a = audit(df)
    if (a.cartesian || a.nestedLoop)
      throw new IllegalStateException(
        s"PlanGuard: rejected non-equi join (cartesian=${a.cartesian}, nestedLoop=${a.nestedLoop})")
    if (a.scanBytes > maxScanBytes)
      throw new IllegalStateException(
        s"PlanGuard: plan scans ${a.scanBytes} bytes, budget $maxScanBytes")
    if (!allowUnfiltered && a.unfilteredScans.nonEmpty)
      throw new IllegalStateException(
        s"PlanGuard: full scans without pushed filters: ${a.unfilteredScans.mkString("; ")}")
    df
  }
}
