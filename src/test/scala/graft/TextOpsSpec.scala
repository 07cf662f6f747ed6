package graft

import graft.analytics.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** Invariants and plan shapes of the text and corpus-curation
  * operators ([[graft.analytics.TextOps]]). Value-level correctness is
  * gated by the DuckDB crosscheck; these reconcile each operator against
  * an independent recount of the same corpus (injected PII, benchmark
  * overlaps, language budgets, gapless packing, DSIR coverage) and pin
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
}
