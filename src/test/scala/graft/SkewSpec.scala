package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 90% of rows share one hot key
  private def skewed = (1 to 1000).map(i =>
    (if (i <= 900) "hot" else s"k$i", i.toLong)).toDF("key", "v")
  private def dim = Seq(("hot", "H"), ("k901", "A"), ("k950", "B")).toDF("key", "tag")

  test("saltedJoin returns exactly the plain-join result") {
    val plain = skewed.join(dim, "key").select("key", "v", "tag")
    val salted = Skew.saltedJoin(skewed, dim, "key", saltFactor = 8)
      .select("key", "v", "tag")
    assert(salted.collect().toSet == plain.collect().toSet)
    assert(salted.count() == 902)
  }

  test("saltedJoin spreads the hot key across salt partitions") {
    val s = skewed.withColumn("__salt",
      pmod(xxhash64(struct(col("key"), col("v"))), lit(8)))
    val spread = s.filter(col("key") === "hot")
      .select("__salt").distinct().count()
    assert(spread == 8, "hot-key rows must occupy every salt bucket")
  }

  test("ngram-jaccard df-cap drops boilerplate posting lists but keeps true near-dups") {
    // 150 docs all share one boilerplate trigram (df = 150 > cap = 100):
    // uncapped, that single shingle alone contributes 150·149/2 ≈ 11k join
    // rows; capped, it is dropped entirely. Docs 0 and 1 are near-identical
    // through RARE shingles and must still be detected.
    val filler = (i: Int) => s"unique$i word$i token$i extra$i more$i stuff$i pad$i tail$i"
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"$base lorem ipsum dolor sit"),
      (1L, s"$base lorem ipsum dolor amet")) ++
      (2 until 150).map(i => (i.toLong, s"lorem ipsum dolor sit ${filler(i)}"))
    val dir = SparkTestSession.tempDir("dfcap")
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = graft.analytics.Dedup.dedupNgramJaccard(spark, dir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // only the genuinely near-identical pair survives; the 148 docs whose
    // sole overlap is the capped boilerplate trigram produce no pairs
    assert(pairs == Set((0L, 1L)))
    // and the frequent shingle really is above the cap (sanity on the fixture)
    val dfOfBoiler = docs.count(_._2.contains("lorem ipsum dolor"))
    assert(dfOfBoiler == 150 && dfOfBoiler > graft.analytics.Dedup.ShingleDfCap)
  }
}
