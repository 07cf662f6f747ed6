package graft

import graft.analytics.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants and plan shapes of the text and corpus-curation
  * operators ([[graft.analytics.TextOps]]). Value-level correctness is
  * gated by the DuckDB crosscheck; these reconcile each operator against
  * an independent recount of the same corpus (injected PII, benchmark
  * overlaps, language budgets, gapless packing, DSIR coverage, lexical
  * diversity, priority sampling) and pin
  * where the DSIR build broadcasts.
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("pii_scrub finds exactly the injected PII and removes it") {
    val rows = TextOps.piiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(1) == 1 && r.getInt(2) == 1))
    // scrubbed text must not retain an email (hash differs from unscrubbed)
    import org.apache.spark.sql.functions._
    val unscrubbed = Tables.documents(spark, sf)
      .select(md5(concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).as("h"))
      .collect().map(_.getString(0)).toSet
    assert(rows.forall(r => !unscrubbed.contains(r.getString(3))))
  }

  test("text_decontaminate flags no benchmark doc and only true overlaps") {
    val df = TextOps.textDecontaminate(spark, sf)
    val rows = df.collect()
    // benchmark slice itself must never appear in the flagged output
    assert(rows.forall(_.getLong(0) % 97 != 0))
    // every flagged doc reports at least one contaminated shingle
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("corpus_mixture downsamples over-budget languages and keeps the tail") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = TextOps.corpusMixture(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    import org.apache.spark.sql.functions._
    val totals = Tables.documents(spark, sf01)
      .groupBy("lang").agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " "))).as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { case (lang, (kept, keptToks, ppm)) =>
      val (allDocs, allToks) = totals(lang)
      if (ppm == 1000000L) {
        assert(kept == allDocs, s"$lang at rate 1.0 must keep everything")
        assert(keptToks == allToks)
      } else {
        assert(kept < allDocs, s"$lang rate $ppm ppm must drop documents")
      }
    }
  }

  test("seq_pack streams are gapless within each language") {
    val rows = TextOps.seqPack(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (lang, docs) =>
      val sorted = docs.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"$lang stream must start at token 0")
      sorted.sliding(2).foreach {
        case Array((_, n, start), (_, _, nextStart)) =>
          assert(nextStart == start + n,
            s"$lang stream has a gap: $start+$n != $nextStart")
        case _ =>
      }
    }
  }

  test("corpus_dsir covers every raw doc, excludes the target, splits on the mean") {
    import org.apache.spark.sql.functions.col
    val out = graft.analytics.TextOps.corpusDsir(spark, sf)
    val rows = out.collect()
    val rawIds = Tables.documents(spark, sf)
      .filter(col("source") =!= "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == rawIds,
      "output must be exactly the raw (non-target) docs")
    assert(rows.forall(_.getLong(1) >= 0L), "integer scores are non-negative")
    val kept = rows.count(_.getInt(2) == 1)
    assert(kept > 0 && kept < rows.length,
      s"above-mean keep must split the corpus ($kept of ${rows.length})")
    // above-mean rule, re-derived independently
    val mean = rows.map(_.getLong(1)).sum / rows.length
    rows.foreach(r => assert((r.getInt(2) == 1) == (r.getLong(1) > mean)))
  }

  test("corpus_dsir: kappa broadcasts in the zone BUILD; the query serves the zone") {
    // the once-per-dataset build is where the occurrence stream lives —
    // the bounded kappa table must broadcast into it
    val build = graft.analytics.TextOps.dsirScores(spark, sf)
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastHashJoin"),
      s"the bounded kappa table must broadcast into the occurrence stream:\n$build")
    assert(!build.contains("CartesianProduct"), s"no cartesian:\n$build")
    // the registered query reads the published per-doc zone (r15) and
    // joins only the broadcast 1-row mean — never a corpus-wide rebuild
    val served = graft.analytics.TextOps.corpusDsir(spark, sf)
      .queryExecution.executedPlan.toString
    assert(served.contains("dsir_doc_score"),
      s"query must serve the published dsir_doc_score zone:\n$served")
    assert(!served.contains("CartesianProduct"), s"no cartesian:\n$served")
  }

  test("text_diversity: kernel stats equal a from-scratch token recount") {
    import graft.analytics.TextOps
    val out = TextOps.textDiversity(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
    assert(out.length == docs.length)
    val byId = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      // split(-1) keeps trailing empties — the string_split contract the
      // kernel implements
      val toks = byId(r.getAs[Long]("doc_id")).split(" ", -1)
      val counts = toks.groupBy(identity).map(_._2.length)
      val n = toks.length.toLong
      val types = counts.size.toLong
      val sumCC = counts.map(c => c.toLong * (c - 1)).sum
      val hapax = counts.count(_ == 1).toLong
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("n_types") == types)
      assert(math.abs(r.getAs[Double]("ttr") - types.toDouble / n) < 1e-6)
      if (n > 1) {
        val simpson = sumCC.toDouble / (n * (n - 1))
        assert(math.abs(r.getAs[Double]("simpson") - simpson) < 1e-6)
      } else assert(r.getAs[Double]("simpson") == 0.0)
      assert(math.abs(r.getAs[Double]("hapax_share") - hapax.toDouble / types) < 1e-6)
    }
  }

  test("text_diversity kernel: adversarial token edges") {
    import spark.implicits._
    // (text, n_tokens, n_types, sum_cc, n_hapax); empties from doubled /
    // leading / trailing spaces are tokens, exactly as string_split keeps
    // them
    val cases = Seq(
      ("a b a", 3, 2, 2L, 1),
      ("a a a a", 4, 1, 12L, 0),
      ("x", 1, 1, 0L, 1),
      ("a  b", 3, 3, 0L, 3), // "a", "", "b"
      (" a", 2, 2, 0L, 2), // "", "a"
      ("a ", 2, 2, 0L, 2), // "a", ""
      ("", 1, 1, 0L, 1)) // one empty token
    cases.foreach { case (text, n, types, cc, hapax) =>
      val r = Seq(text).toDF("t")
        .select(graft.functions.GraftFunctions.diversityStats(col("t")).as("d"))
        .select("d.n_tokens", "d.n_types", "d.sum_cc", "d.n_hapax")
        .head()
      assert((r.getInt(0), r.getInt(1), r.getLong(2), r.getInt(3)) ==
        ((n, types, cc, hapax)), s"text=<$text>")
    }
  }

  test("sample_priority: exact integer priorities, complete top-k") {
    import graft.analytics.TextOps
    val out = TextOps.samplePriority(spark, sf).collect()
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.GraftFunctions.polyhash(col("text")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == math.min(100, all.length))
    val expect = all
      .map { case (id, w, h) =>
        (id, w, h, w * graft.functions.Portable.P / math.max(h, 1L)) }
      .sortBy { case (id, _, h, p) => (-p, -h, id) }
      .take(out.length)
    out.zip(expect).zipWithIndex.foreach { case ((r, (id, w, h, p)), i) =>
      assert(r.getAs[Long]("rank") == i + 1)
      assert(r.getAs[Long]("doc_id") == id)
      assert(r.getAs[Long]("n_chars") == w)
      assert(r.getAs[Long]("h") == h)
      assert(r.getAs[Long]("priority") == p)
    }
    // weighting sanity: the sampled docs skew STRICTLY long (mean weight
    // above corpus mean) — the point of weighted over uniform sampling;
    // a regression to uniform selection would leave meanSel ≈ meanAll
    // and fail here
    val meanAll = all.map(_._2).sum.toDouble / all.length
    val meanSel = out.map(_.getAs[Long]("n_chars")).sum.toDouble / out.length
    assert(meanSel > meanAll,
      s"selected mean $meanSel must exceed corpus mean $meanAll")
  }

  test("text_perplexity_bucket: value-pure tertiles, ordered and tiling per language") {
    import org.apache.spark.sql.functions._
    val b = graft.analytics.TextOps.textPerplexityBucket(spark, sf)
    val perLang = b.groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"), min("lm_ppm").as("lo"), max("lm_ppm").as("hi"))
      .collect().map(r => ((r.getString(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val langs = perLang.keySet.map(_._1)
    langs.foreach { l =>
      // buckets are value-ordered: every head score ≥ every middle score
      // ≥ every tail score (ties land in the better bucket, so ranges may
      // touch but never interleave), and the three buckets tile the lang
      for (i <- 0 until 2 if perLang.contains((l, i)) && perLang.contains((l, i + 1)))
        assert(perLang((l, i))._2 >= perLang((l, i + 1))._3,
          s"$l: bucket $i overlaps bucket ${i + 1} below its floor")
      val n = (0 to 2).map(i => perLang.get((l, i)).map(_._1).getOrElse(0L)).sum
      val total = b.filter(col("lang") === l).count()
      assert(n == total, s"$l: buckets do not tile ($n != $total)")
      // head holds at least the nearest-rank third (ties only ADD to it)
      assert(perLang((l, 0))._1 >= (total + 2) / 3 ||
        perLang((l, 0))._2 == perLang((l, 0))._3,
        s"$l: head bucket smaller than the tertile with distinct scores")
    }
    assert(langs.nonEmpty)
  }

  test("text_zipf decade masses tile the top-999 token mass exactly") {
    val rows = TextOps.textZipf(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(r => Seq(1, 2, 3).contains(r.getInt(0))))
    // n_terms per decade can never exceed the decade's rank capacity
    val cap = Map(1 -> 9L, 2 -> 90L, 3 -> 900L)
    assert(rows.forall(r => r.getLong(1) <= cap(r.getInt(0))))
    // decade mass must equal an independent naive computation: total
    // occurrences of the top-999 terms by frequency
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(999).collect()
    assert(rows.map(_.getLong(2)).sum == vocab.map(_.getLong(1)).sum,
      "decade total_occurrences must tile the naive top-999 token mass")
    assert(rows.map(_.getLong(1)).sum == vocab.length.toLong)
    // within-decade frequency bounds nest monotonically across decades
    val sorted = rows.sortBy(_.getInt(0))
    for (Seq(a, b) <- sorted.toSeq.sliding(2) if sorted.length > 1)
      assert(a.getLong(4) >= b.getLong(3),
        "min_freq of an earlier decade must dominate max_freq of a later one")
  }

  test("text_boilerplate ppm is exact integer division and df-threshold-consistent") {
    val rows = TextOps.textBoilerplate(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (n, c, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      c <= n && ppm == c * 1000000L / n && ppm >= 0 && ppm <= 1000000
    })
    // every document with >= 3 tokens appears exactly once
    val expected = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 3).count()
    assert(rows.length.toLong == expected)
  }
}
