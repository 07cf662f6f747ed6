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
    assert(Similarity.refineRounds(spark) == 1)
    val single = Similarity.knnGraphRefine(spark, sf)
      .collect().map(_.toString).sorted
    assert(single.toSeq == r1.collect().map(_.toString).sorted.toSeq)
    // a nonsensical round count fails loudly
    spark.conf.set("spark.graft.refine.rounds", "0")
    try intercept[IllegalArgumentException](
      Similarity.knnGraphRefine(spark, sf))
    finally spark.conf.unset("spark.graft.refine.rounds")
  }

  test("knn_graph_recall covers every cap × every sampled node") {
    val rows = Similarity.knnGraphRecall(spark, sf).collect()
    val caps = rows.map(_.getInt(0)).distinct.sorted
    assert(caps.toSeq == Similarity.GraphRecallCaps.sorted,
      s"cap column must enumerate GraphRecallCaps, got ${caps.toSeq}")
    val perCap = rows.groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    assert(perCap.values.forall(_ == Similarity.GraphRecallNQ),
      s"each cap must report all ${Similarity.GraphRecallNQ} sampled nodes: $perCap")
    assert(rows.forall { r =>
      val (hits, recall) = (r.getLong(2), r.getDouble(3))
      hits >= 0 && hits <= 5 && recall >= 0.0 && recall <= 1.0
    }, "n_hits must be in [0,5] and recall in [0,1]")
  }

  test("uncapped setting is the recall ceiling over every finite cap") {
    // s=1 everywhere makes each node's candidate set the full bucket — a
    // superset of any cell — and a candidate superset can only add exact
    // top-k members to the approximate top-k (anything that displaces an
    // exact-top-k candidate has a higher cosine, hence is itself exact
    // top-k). Aggregate hits must therefore be maximal at the uncapped
    // setting; a violation means the cell split changed semantics, not
    // just recall.
    val totals = Similarity.knnGraphRecall(spark, sf)
      .groupBy("cap").agg(sum("n_hits").as("h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ceiling = totals(Similarity.GraphRecallCaps.max)
    for ((cap, h) <- totals)
      assert(h <= ceiling, s"cap=$cap hits $h exceed uncapped ceiling $ceiling")
  }

  test("recall eval at cap=GraphCell replays the shipped knn_graph edges exactly") {
    // The whole point of the gate: it must measure the graph knnGraph
    // ships, not a reimplementation that could drift. Edge sets for the
    // sampled nodes must be identical.
    val (base, codes) = Similarity.graphRecallFrames(spark, sf)
    val evalEdges = Similarity.graphSampleEdges(base, codes, Similarity.GraphCell)
    val shipped = Similarity.knnGraph(spark, sf)
      .filter(col("q_id") < Similarity.GraphRecallNQ)
      .select("q_id", "n_id")
    assert(evalEdges.exceptAll(shipped).isEmpty && shipped.exceptAll(evalEdges).isEmpty,
      "cap=GraphCell eval edges must equal knn_graph's own edges for the sample")
  }

  test("NN-descent round can only add exact-top-k hits at the shipped cap") {
    // knn_graph_refine's final top-k ranks a SUPERSET of the capped
    // graph's candidate pairs (pairs = two-hop candidates ∪ the graph's
    // own edges), so per-node hits against exact ground truth are
    // monotone — the refine round may lift recall, never lower it.
    val graphHits = Similarity.knnGraphRecall(spark, sf)
      .filter(col("cap") === Similarity.GraphCell)
      .agg(sum("n_hits")).collect()(0).getLong(0)
    val refinedHits = Similarity.knnGraphRefineRecall(spark, sf)
      .agg(sum("n_hits")).collect()(0).getLong(0)
    assert(refinedHits >= graphHits,
      s"refined hits $refinedHits fell below capped-graph hits $graphHits")
  }

  test("oversized buckets split along extra hyperplane bits, keeping near-duplicates together") {
    // sf0.001's 256-bucket occupancy (~2 rows/bucket) never splits, so
    // exercise the split on a synthetic corpus big enough that buckets
    // overflow GraphCell. The split must (a) actually subdivide and
    // (b) be similarity-AWARE: a planted near-duplicate pair (cosine ≈ 1,
    // so all 24 plane projections agree) must share a cell — the property
    // the first-cut `vec_id % s` split lacked, which collapsed recall
    // at the ×100 scale point.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian())
    val twin = base.map(_ + 1e-9)
    val vecs = (0 until 20000).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian() * 100).floor / 100))
    } :+ (20000L, base) :+ (20001L, twin)
    val df = vecs.toDF("vec_id", "embedding")
    val bvc = Similarity.knnGraphCellsForSpec(df, Similarity.GraphCell)
      .select("vec_id", "tbl", "bucket", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byBucket = bvc.groupBy(r => (r._2, r._3))
    val split = byBucket.filter { case (_, rows) =>
      rows.map(_._4).distinct.length > 1 }
    assert(split.nonEmpty, "no bucket split on a 20k corpus — cap inactive")
    // candidate budget holds in aggregate on near-uniform data: the
    // largest cell stays within a small factor of the cap (hyperplane
    // bits halve a random bucket per extra bit; only degenerate
    // identical-vector corpora defeat the split)
    val maxCell = byBucket.values.flatMap(
      _.groupBy(_._4).values.map(_.size)).max
    assert(maxCell <= 4 * Similarity.GraphCell,
      s"largest cell $maxCell blows the ${Similarity.GraphCell} budget")
    // the planted pair must share (bucket, cell) in EVERY table
    val planted = bvc.filter(_._1 >= 20000L).groupBy(_._2)
    planted.foreach { case (tbl, rows) =>
      assert(rows.map(r => (r._3, r._4)).distinct.length == 1,
        s"near-duplicate pair separated in table $tbl: ${rows.toSeq}")
    }
  }

  test("knn_graph_recall ground truth is one broadcast pass, no wide shuffle of the corpus") {
    // The exact side must stay a broadcast of the 30-node sample against
    // the corpus scan: a proportional sample or a lost broadcast would
    // show up as an Exchange hashpartitioning of the embeddings scan
    // before any aggregate.
    val plan = Similarity.knnGraphRecall(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"sample side must broadcast:\n${plan.take(2000)}")
  }

  test("knn_range returns exactly the pairs at or above the threshold") {
    val rows = Similarity.knnRange(spark, sf).collect()
    assert(rows.forall(_.getDouble(2) >= 0.35), "below-threshold row leaked")
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self-match leaked")
    // cross-check against the exact brute top-k: any knn_brute neighbor
    // scoring >= tau must be in the range result (same round-6 cosine)
    val fromBrute = Similarity.knnBrute(spark, sf).collect()
      .filter(_.getDouble(3) >= 0.35)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromBrute.subsetOf(got),
      s"brute-force matches missing from range result: ${fromBrute.diff(got)}")
  }
  test("zone-served knn_graph ≡ a direct knnGraphFrame build") {
    val served = analytics.Similarity.knnGraph(spark, sf).collect().toSeq
    val direct = analytics.Similarity
      .knnGraphFrame(spark, Tables.embeddings(spark, sf)).collect().toSeq
    assert(served == direct)
  }

  test("zone-served knn_brute ≡ the inline 10-query exact formulation") {
    val served = analytics.Similarity.knnBrute(spark, sf).collect().toSeq
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), e => e.cast("double")).as("ed"))
      .withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.dotp(col("ed"), col("ed"))))
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("ed").as("q_ed"), col("nrm").as("q_nrm"))
    val scored = base.as("c")
      .join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(graft.functions.GraftFunctions.dotp(col("q_ed"), col("ed")) /
          (col("q_nrm") * col("nrm")), 6).as("cosine"))
    val direct = scored.groupBy("q_id")
      .agg(graft.functions.GraftFunctions
        .topk(struct(col("cosine"), col("n_id")), 5).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("n_id"), col("t.score").as("cosine"))
      .orderBy("q_id", "rank").collect().toSeq
    assert(served == direct)
  }

  test("zone-served knn_graph_refine ≡ an unzoned build + refine round") {
    val served = analytics.Similarity.knnGraphRefine(spark, sf).collect().toSeq
    val vectors = Tables.embeddings(spark, sf)
    val direct = analytics.Similarity.refineRound(
        analytics.Similarity.vecBase(vectors),
        analytics.Similarity.knnGraphFrame(spark, vectors)
          .select(col("q_id"), col("n_id"), col("cosine")))
      .collect().toSeq
    assert(served == direct)
  }

  test("kmeans_iter long-encoded argmin ≡ the min(struct) formulation") {
    val got = analytics.Similarity.kmeansIter(spark, sf).collect().toSeq
    val base = Tables.embeddings(spark, sf).select(col("vec_id"),
      transform(col("embedding"), e => round(e.cast("double") * 1000).cast("long")).as("qv"))
    val cents = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("qv").as("cq"))
    val d2 = graft.functions.GraftFunctions.l2sq(col("qv"), col("cq"))
    val assigned = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), d2.as("d2"), col("cid"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster_id"))
    val dims = (0 until 4).map(d =>
      (sum(element_at(col("qv"), d + 1)) / count(lit(1))).as(s"c$d"))
    val reference = assigned.join(base, "vec_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), dims: _*)
      .orderBy("cluster_id").collect().toSeq
    assert(got == reference)
  }
}
