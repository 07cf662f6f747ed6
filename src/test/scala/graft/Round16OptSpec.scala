package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 optimization equivalence pins.
  *
  * The sf0.01/sf0.1 oracle gates prove the rewrites on the shipped
  * corpora; these tests additionally pin (a) the new map-side kernels
  * against the declarative formulations they replace, and (b) the
  * near-dup build's packed-id fast path against its unpacked fallback on
  * a corpus whose doc ids exceed the packed bound (which no shipped SF
  * exercises).
  */
class Round16OptSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def fixtureDir(): String =
    SparkTestSession.tempDir("graft-r16opt")

  test("graft_term_counts ≡ explode → count per (doc, term) on the real corpus") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
    val kernel = docs
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .termCounts(split(col("text"), " "))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val declarative = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(kernel.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(kernel).isEmpty,
      "kernel term counts diverge from the declarative aggregation")
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

  test("utcTs renders epoch seconds in UTC by integer math, any session tz") {
    import spark.implicits._
    val secs = Seq(0L, 59L, 3600L, 86399L, 86400L, 951868800L,
      1234567890L, 2000000000L, 4102444799L)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val want = secs.map(s => java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC).format(fmt))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val got = secs.toDF("sec")
          .select(analytics.CluesoOps.utcTs.as("ts"))
          .collect().map(_.getString(0)).toSeq
        assert(got == want, s"tz=$tz: $got")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }
}
