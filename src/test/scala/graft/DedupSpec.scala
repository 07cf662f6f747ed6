package graft

import graft.analytics.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the deduplication operators ([[graft.analytics.Dedup]]).
  * Value-level correctness is gated by the DuckDB crosscheck; these check
  * that cluster labels are minima with one keeper each, that source-pair
  * overlaps are emitted once, and that a shared chunk is found across
  * every document that carries it.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("dedup_semantic labels are cluster minima and keeper flags match") {
    val rows = Dedup.dedupSemantic(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getLong(0)).min == cid,
        s"cluster $cid label is not its minimum member")
      assert(members.count(_.getInt(2) == 1) == 1,
        s"cluster $cid must have exactly one keeper")
    }
  }

  test("corpus_overlap emits each source pair once, ordered") {
    val rows = Dedup.corpusOverlap(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) > 0)
    }
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length
      == rows.length)
  }

  test("dedup_chunks finds the shared banner chunk across all wrapped docs") {
    val df = Dedup.dedupChunks(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    val maxShared = df.selectExpr("max(n_docs)").first().getLong(0)
    // the banner chunk occurs in every wrapped doc (one per original)
    assert(maxShared == nDocs)
    // and every original full chunk recurs in its wrapped twin
    assert(df.count() > nDocs)
  }
}
