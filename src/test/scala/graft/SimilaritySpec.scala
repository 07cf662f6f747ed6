package graft

import graft.analytics.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the vector-similarity operators
  * ([[graft.analytics.Similarity]]). Value-level correctness is gated by
  * the DuckDB crosscheck; these assert what the oracle can't see: k-means
  * assignment coverage and the kNN result shapes (label exclusion,
  * admissible ADC sums, IVF probing a subset of the PQ candidates).
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("kmeans_iter assigns every vector to exactly one of the seed centroids") {
    val df = Similarity.kmeansIter(spark, sf)
    val rows = df.collect()
    assert(rows.length <= 8 && rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count())
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 8))
  }

  test("knn_hard_negatives never returns a same-label neighbor") {
    val df = Similarity.knnHardNegatives(spark, sf)
    val labels = Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(labels(r.getLong(0)) != labels(r.getLong(2)),
        s"query ${r.getLong(0)} got same-label negative ${r.getLong(2)}")
    }
  }

  test("knn_pq returns k non-self neighbors per query with admissible ADC sums") {
    val rows = Similarity.knnPq(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q returned ${rs.length} rows")
      assert(rs.forall(_.getLong(2) != q), s"query $q returned itself")
      assert(rs.forall(_.getLong(3) >= 0L))
      // ranked ascending by ADC distance
      val ds = rs.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(ds.sameElements(ds.sorted), s"query $q ranks not distance-ordered")
    }
  }

  test("knn_ivf_pq searches only the probed lists (subset of knn_pq candidates)") {
    val ivf = Similarity.knnIvfPq(spark, sf).collect()
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.forall(_.getLong(2) != q), s"query $q returned itself")
      assert(rs.length <= 5)
    }
  }

  test("refine rounds knob: rounds=2 is exactly refineRound applied twice") {
    import graft.analytics.Similarity
    graft.functions.GraftFunctions.register(spark)
    val vectors = Tables.embeddings(spark, sf)
    val base = Similarity.vecBase(vectors)
    val e1 = Similarity.knnGraphFrame(spark, vectors)
      .select(col("q_id"), col("n_id"), col("cosine"))
    val r1 = Similarity.refineRound(base, e1)
    val expected = Similarity.refineRound(base,
        r1.select(col("q_id"), col("n_id"), col("cosine")))
      .collect().map(_.toString).sorted
    assert(expected.nonEmpty)
    spark.conf.set("spark.graft.refine.rounds", "2")
    try {
      val got = Similarity.knnGraphRefine(spark, sf)
        .collect().map(_.toString).sorted
      assert(got.toSeq == expected.toSeq)
    } finally spark.conf.unset("spark.graft.refine.rounds")
    // default (knob unset) stays the oracle-gated single round
    val single = Similarity.knnGraphRefine(spark, sf)
      .collect().map(_.toString).sorted
    assert(single.toSeq == r1.collect().map(_.toString).sorted.toSeq)
    // a nonsensical round count fails loudly
    spark.conf.set("spark.graft.refine.rounds", "0")
    try intercept[IllegalArgumentException](
      Similarity.knnGraphRefine(spark, sf))
    finally spark.conf.unset("spark.graft.refine.rounds")
  }
}
