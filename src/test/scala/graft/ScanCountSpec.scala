package graft

import graft.search.PlanGuard
import org.scalatest.funsuite.AnyFunSuite

/** Fact-scan-count regression net — the generalization of round 10's
  * `events_rfm` defect (a per-user fact aggregate silently re-derived
  * under every cutoff branch: per-branch column pruning defeated
  * exchange reuse and the biggest table in the system was scanned and
  * hash-aggregated 4× where once sufficed).
  *
  * Every registered query is EXECUTED (AQE stages finalized) and the
  * number of file scans over each big base table in its final plan —
  * reused exchanges/subqueries excluded — is asserted
  * against a declared budget ([[PlanGuard.factScanCounts]]). Default
  * budget: ONE scan per big table. Queries that legitimately read a
  * table more than once declare their measured count below, with the
  * reason; a refactor that silently re-derives a fact subtree fails HERE,
  * not at 100 TB. Re-derive numbers with `runMain graft.tools.ScanAudit`.
  *
  * DerivedZone-backed operators legitimately show ZERO scans of their
  * source fact (the zone build is a separate once-per-dataset job; the
  * query serves the published artifact) — 0 ≤ 1, no declaration needed.
  * A cached relation in a query's plan throws, so the budget test also
  * shows that no registered query holds one.
  */
class ScanCountSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val bigTables = graft.tools.ScanAudit.BigTables

  /** Measured 2026-08-15 (`ScanAudit` at sf0.001) — every entry above the
    * default budget of 1, grouped by cause:
    *
    *  - self-join / cohort-pair shapes (the operator compares the table
    *    with itself): events_retention (cohort ⋈ return visits),
    *    events_anomaly (per-key stats ⋈ points), events_cumulative_users
    *    (day totals ⋈ first appearances), events_inactivity (per-user
    *    frame ⋈ its own head re-aggregate), approx_distinct_kmv (exact side
    *    ⋈ KMV side of the quality gate), q_avg_yearly / q_top_supplier
    *    (TPC-H correlated/semi shapes measured at 2 — the decorrelated
    *    branch is its own slim scan; q_waiting_suppliers dropped to the
    *    default 1 in round 12 when its re-aggregation join-back collapsed
    *    into one aggregation chain), dedup_exact /
    *    dedup_normalized / dedup_chunks (dup-group build ⋈ member list),
    *    corpus_overlap-family text ops with a tf branch and a df branch
    *    (text_boilerplate, text_cms, text_repetition,
    *    text_decontaminate, corpus_mixture; text_top_term and
    *    text_salient_terms moved to the shared `text_tf_df` zone in
    *    round 15 — 0 documents scans in the query plan, like
    *    text_lm_score and corpus_dsir whose per-doc scores are now the
    *    `lm_doc_score` / `dsir_doc_score` zones);
    *  - histogram-domain derivations (cutoffs derived on a quantized
    *    domain, then applied to the full rows — each branch is a slim
    *    pruned scan, documented in the operators' Scaladoc):
    *    text_perplexity_bucket (2 — the (doc_id, lang) spine joins the
    *    lm zone under both the histogram branch and the output branch),
    *    corpus_temperature (4);
    *  - ANN family (codebook training sample + assignment + scoring
    *    branches over the embeddings table; the recall harnesses
    *    additionally scan a broadcast ≤30-row sample branch and an exact
    *    baseline BY DESIGN — they are measurement tools):
    *    centroid_ivf (3 — the coarse quantizer moved to the shared
    *    `ivf_centroids` zone), dedup_embedding (3), kmeans_iter (3),
    *    knn_ivf_pq (3 — centroids + corpus encode both zone-served, the
    *    in-plan scans are the query/seed rows and routing), knn_filtered / knn_hard_negatives / knn_lsh /
    *    knn_range (2). Round 15 moved the shared graph / exact-baseline /
    *    trained-PQ artifacts to DerivedZones (`knn_graph_edges`,
    *    `knn_graph_codes`, `knn_exact_topk`, `pq_adc_topk`), so
    *    knn_brute, knn_graph, knn_graph_refine, knn_graph_refine_recall
    *    and knn_pq_recall now scan embeddings 0× in the query plan
    *    (zone reads only — was 2/3/4/9 and knn_graph_recall's 14), and
    *    knn_recall / knn_graph_recall dropped to 2 (the LSH / per-cap
    *    scoring side);
    *  - storage_info reads one slim stats pass per zone table (1 each —
    *    listed only because it touches three big tables).
    */
  private val declared: Map[String, Map[String, Int]] = Map(
    "approx_distinct_kmv" -> Map("events" -> 2),
    "events_anomaly" -> Map("events" -> 2),
    "events_cumulative_users" -> Map("events" -> 2),
    "events_inactivity" -> Map("events" -> 2),
    "events_retention" -> Map("events" -> 2),
    "q_avg_yearly" -> Map("lineitem" -> 2),
    "q_top_supplier" -> Map("lineitem" -> 2),
    // q_distinct_agg: three 2-column branch scans REPLACE the Expand
    // multi-distinct plan — measured 86.8 vs 140.3 s at x1000
    // (bench_distinct_probe_x1000_r15.json)
    "q_distinct_agg" -> Map("lineitem" -> 3),
    // corpus_dup_by_source: one direct pruned (doc_id, source) scan +
    // the labels zone's build pass when the zone is first-touch cold
    // (warm steady state is 1 — budget covers the cold path the suite
    // may execute first, since the key sorts before dedup_clusters)
    "corpus_dup_by_source" -> Map("documents" -> 2),
    "corpus_mixture" -> Map("documents" -> 2),
    "corpus_temperature" -> Map("documents" -> 4),
    "dedup_chunks" -> Map("documents" -> 2),
    "dedup_exact" -> Map("documents" -> 2),
    "dedup_normalized" -> Map("documents" -> 2),
    "text_cms" -> Map("documents" -> 2),
    "text_decontaminate" -> Map("documents" -> 2),
    "text_ngram_stats" -> Map("documents" -> 2),
    "text_perplexity_bucket" -> Map("documents" -> 2),
    "text_boilerplate" -> Map("documents" -> 2),
    // text_bm25: the one-row stats aggregate (N, avgdl, per-term df) is
    // its own slim pruned pass beside the scoring scan — the correlated-
    // scalar shape, same class as q_avg_yearly
    "text_bm25" -> Map("documents" -> 2),
    "text_repetition" -> Map("documents" -> 2),
    "centroid_ivf" -> Map("embeddings" -> 3),
    "dedup_embedding" -> Map("embeddings" -> 3),
    // dedup_threshold_sweep wraps dedup_embedding's pair frame verbatim
    "dedup_threshold_sweep" -> Map("embeddings" -> 3),
    "kmeans_iter" -> Map("embeddings" -> 3),
    // knn_brute / knn_graph / knn_graph_refine / knn_graph_refine_recall /
    // knn_pq: zone-backed since round 15 — 0 embeddings scans in the
    // query plan, covered by the default budget of 1
    "knn_filtered" -> Map("embeddings" -> 2),
    // knn_pq_recall: trained top-k and seeded corpus codes are
    // zone-served; the two remaining scans are the vec_id<16 pruned
    // seed-codebook and query-distance-table rows of the seeded leg
    "knn_pq_recall" -> Map("embeddings" -> 2),
    // knn_graph_recall: per-cap scoring joins against the vector base;
    // exchange reuse collapses the four caps' scans to 2 (was 14 before
    // the codes/exact zones)
    "knn_graph_recall" -> Map("embeddings" -> 2),
    "knn_hard_negatives" -> Map("embeddings" -> 2),
    "knn_ivf_pq" -> Map("embeddings" -> 3),
    "knn_lsh" -> Map("embeddings" -> 2),
    "knn_range" -> Map("embeddings" -> 2),
    "knn_recall" -> Map("embeddings" -> 2))

  test("every registered query stays within its declared big-table scan budget") {
    val over = scala.collection.mutable.ListBuffer.empty[String]
    for (name <- SparkEntry.queries.keySet.toSeq.sorted) {
      val counts =
        PlanGuard.factScanCounts(SparkEntry.queries(name)(spark, sf), bigTables)
      val budget = declared.getOrElse(name, Map.empty)
      for (t <- bigTables; n = counts(t); if n > budget.getOrElse(t, 1))
        over += s"$name: $t scanned $n× (budget ${budget.getOrElse(t, 1)})"
    }
    assert(over.isEmpty,
      "queries re-deriving a fact subtree beyond their declared budget " +
        s"(the events_rfm defect class):\n${over.mkString("\n")}")
  }

  test("a cached relation in the plan fails loudly, naming the node") {
    import org.apache.spark.sql.functions.{count, lit}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dim = docs.groupBy("lang").agg(count(lit(1)).as("n_docs")).cache()
    try {
      val err = intercept[IllegalStateException](
        PlanGuard.factScanCounts(dim.join(dim.select("lang"), "lang"), bigTables))
      assert(err.getMessage.contains("InMemoryTableScan"), err.getMessage)
    } finally dim.unpersist(blocking = true)
  }

  test("events_rfm's fact aggregate is materialized once: zero events scans in the query plan") {
    // the round-10 defect, pinned at its fixed value: the per-user
    // aggregate is a DerivedZone artifact (ONE events scan at zone build,
    // once per dataset); the query plan itself reads only the zone
    val counts =
      PlanGuard.factScanCounts(SparkEntry.queries("events_rfm")(spark, sf), bigTables)
    assert(counts("events") == 0,
      s"events_rfm scans events ${counts("events")}× — the zone materialization regressed")
  }
}
