package graft

import graft.analytics.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the deduplication operators ([[graft.analytics.Dedup]]).
  * Value-level correctness is gated by the DuckDB crosscheck; these check
  * that cluster labels are minima with one keeper each, that source-pair
  * overlaps are emitted once, that a shared chunk is found across every
  * document that carries it, and that the near-dup build's packed-id path
  * equals its unpacked fallback.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def fixtureDir(): String =
    SparkTestSession.tempDir("graft-dedup")

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

  test("near-dup pairs: packed-id path ≡ unpacked fallback (doc ids past the packed bound)") {
    import spark.implicits._
    // two near-dup docs (4 shared of 8 distinct 3-gram shingles →
    // jaccard exactly 0.5, the threshold edge) plus one unrelated doc —
    // small enough that the pair list is hand-checkable, and written
    // TWICE: once with small ids (packed path) and once with the same
    // ids offset by 2⁴⁴+7 (above the packed-id bound ≈2⁴³ — forces the
    // unpacked fallback).
    val texts = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f x y",
      3L -> "p q r s t u v w")
    val off = (1L << 44) + 7L
    val small = fixtureDir(); val big = fixtureDir()
    texts.toDF("doc_id", "text").write.parquet(s"$small/documents.parquet")
    texts.map { case (id, t) => (id + off, t) }.toDF("doc_id", "text")
      .write.parquet(s"$big/documents.parquet")
    val gotSmall = analytics.Dedup.dedupNgramJaccard(spark, small)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val gotBig = analytics.Dedup.dedupNgramJaccard(spark, big)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // identical pair structure under the id shift
    assert(gotBig == gotSmall.map { case (a, b, j) => (a + off, b + off, j) },
      s"packed/unpacked divergence: $gotSmall vs $gotBig")
    // and the small-id result matches the hand-derived truth:
    // docs 1,2 share 4 of their 6+6 distinct shingles -> jaccard 4/8 = 0.5
    val sh1 = (0 to 5).map(i => ("a b c d e f g h".split(" ").slice(i, i + 3)).mkString(" ")).toSet
    val sh2 = (0 to 5).map(i => ("a b c d e f x y".split(" ").slice(i, i + 3)).mkString(" ")).toSet
    val expect = sh1.intersect(sh2).size.toDouble /
      (sh1.size + sh2.size - sh1.intersect(sh2).size)
    if (expect >= 0.5)
      assert(gotSmall == Seq((1L, 2L,
        BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    else assert(gotSmall.isEmpty)
  }

  test("corpus_dup_by_source: per-source tallies reconcile with the cluster labels") {
    import graft.analytics.Dedup
    val out = Dedup.corpusDupBySource(spark, sf).collect()
    assert(out.nonEmpty)
    // per-source invariants: removable ⊆ cluster members ⊆ docs
    out.foreach { r =>
      val (n, dup, rem) = (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dup_docs"), r.getAs[Long]("n_removable"))
      assert(rem <= dup && dup <= n)
      assert(r.getAs[Long]("dup_ppm") == rem * 1000000L / n)
    }
    // global reconciliation against the label frame itself
    val labels = Dedup.dedupClusters(spark, sf)
    assert(out.map(_.getAs[Long]("n_dup_docs")).sum == labels.count())
    assert(out.map(_.getAs[Long]("n_removable")).sum ==
      labels.filter(col("is_keeper") === 0).count())
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count())
  }

  test("dedup_threshold_sweep: cumulative counts reconcile with the pair frame") {
    import graft.analytics.Dedup
    val sweep = Dedup.dedupThresholdSweep(spark, sf)
      .collect() // ordered threshold DESC
    assert(sweep.nonEmpty)
    val pairs = Dedup.dedupEmbedding(spark, sf).collect()
    // bottom row's cumulative count = every enumerated pair
    assert(sweep.last.getAs[Long]("cum_pairs") == pairs.length.toLong)
    // cum is the running sum of n_pairs from the top
    val running = sweep.scanLeft(0L)(_ + _.getAs[Long]("n_pairs")).tail
    assert(sweep.map(_.getAs[Long]("cum_pairs")).toSeq == running.toSeq)
    // each bucket's count matches a direct recount at its edges
    sweep.foreach { r =>
      val lo = r.getAs[Double]("threshold")
      val n = pairs.count { p =>
        val c6 = math.round(p.getAs[Double]("cosine") * 1e6)
        c6 / 50000 == math.round(lo * 20)
      }
      assert(n.toLong == r.getAs[Long]("n_pairs"))
    }
  }
}
