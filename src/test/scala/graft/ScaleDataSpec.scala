package graft

import graft.tools.ScaleData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scaling-benchmark data generator must actually produce N
  * self-contained copies: facts N×, dims fixed, per-copy join integrity,
  * copy-disjoint text, and sign-flipped embeddings whose WITHIN-copy
  * geometry is exactly the original's.
  */
class ScaleDataSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val dst = {
    val d = SparkTestSession.tempDir("scaled")
    ScaleData.scale(spark, sf, d, 3)
    d
  }

  test("facts scale by the factor, dims stay fixed") {
    def n(dir: String, t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
      .foreach(t => assert(n(dst, t) == 3 * n(sf, t), s"$t must scale 3x"))
    Seq("region", "nation").foreach(t => assert(n(dst, t) == n(sf, t)))
  }

  test("longDocs preserves total token volume at the target per-doc length") {
    val d = SparkTestSession.tempDir("longdocs")
    ScaleData.longDocs(spark, sf, d, 1000)
    val srcDocs = spark.read.parquet(s"$sf/documents.parquet")
    val out = spark.read.parquet(s"$d/documents.parquet")
    def totalTokens(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(size(split(col("text"), " ")))).first().getLong(0)
    // merging joins docs with single spaces: separators, never tokens
    assert(totalTokens(out) == totalTokens(srcDocs), "token volume must be exact")
    // ~1000 tokens per doc: group size = round(1000 / avg) source docs each
    val perDoc = out.select(size(split(col("text"), " ")).as("n"))
      .agg(avg(col("n"))).first().getDouble(0)
    assert(perDoc > 500 && perDoc < 2000, s"mean tokens/doc $perDoc not ~1000")
    assert(out.count() < srcDocs.count() / 2, "docs must actually merge")
    // ids stay unique and lang/source come from each group's head doc
    assert(out.select("doc_id").distinct().count() == out.count())
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  }

  test("per-copy join integrity: every order resolves its customer") {
    val o = spark.read.parquet(s"$dst/orders.parquet")
    val c = spark.read.parquet(s"$dst/customer.parquet")
    val dangling = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count()
    assert(dangling == 0, s"$dangling orders lost their customer after shifting")
  }

  test("documents are copy-disjoint; embeddings preserve within-copy geometry") {
    val d = spark.read.parquet(s"$dst/documents.parquet")
    // identical text across copies would turn dedup into a clone-cluster
    // workload; the token suffix must make every copy's text distinct
    assert(d.select("text").distinct().count() == d.count())

    val e = spark.read.parquet(s"$dst/embeddings.parquet")
      .withColumn("cp", expr(s"vec_id div ${ScaleData.CopyOffset}"))
      .withColumn("base_id", expr(s"vec_id % ${ScaleData.CopyOffset}"))
    // sign flips preserve norms exactly: per base vector, all copies
    // carry the same squared norm
    val norms = e.select(col("base_id"), col("cp"),
        aggregate(col("embedding"), lit(0.0d), (a, x) => a + x * x).as("n2"))
    val drift = norms.groupBy("base_id")
      .agg((max(col("n2")) - min(col("n2"))).as("spread"))
      .agg(max(col("spread"))).first().getDouble(0)
    assert(drift < 1e-6, s"copy must preserve norms, max spread $drift")
    // ...but cross-copy directions are scrambled: copy 1 of a vector is
    // not identical to copy 0 (the flip pattern really applied)
    val c0 = e.filter(col("cp") === 0).select(col("base_id"), col("embedding").as("v0"))
    val c1 = e.filter(col("cp") === 1).select(col("base_id"), col("embedding").as("v1"))
    val same = c0.join(c1, "base_id").filter(col("v0") === col("v1")).count()
    assert(same == 0, "copy 1 embeddings must differ from copy 0")
  }

  test("constVocab corpus: rows x factor, key space constant, ids disjoint") {
    val dst = SparkTestSession.tempDir("graft-constvocab")
    graft.tools.ScaleData.constVocab(spark, sf, dst, factor = 3)
    val src = spark.read.parquet(s"$sf/documents.parquet")
    val out = spark.read.parquet(s"$dst/documents.parquet")
    assert(out.count() == 3 * src.count())
    // doc ids stay unique across copies (shifted by the copy offset)
    assert(out.select("doc_id").distinct().count() == out.count())
    // the whole point: the distinct token/n-gram key space does NOT grow —
    // every text in the scaled corpus is a verbatim source text
    val srcTexts = src.select("text").distinct()
    val novel = out.select("text").distinct()
      .join(srcTexts, Seq("text"), "left_anti").count()
    assert(novel == 0L, "constVocab must introduce no new text")
    assert(out.select("text").distinct().count() == srcTexts.count())
    // distinct 3-gram keys: scaled corpus == source corpus (the suffixed
    // ScaleData.scale corpus grows this ~x factor; this one must not)
    def ngrams(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 2), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i, 3)))")).as("g"))
        .distinct().count()
    assert(ngrams(out) == ngrams(src))
  }
}
