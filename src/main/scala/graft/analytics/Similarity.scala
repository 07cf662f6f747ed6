package graft.analytics

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY §2.4).
  *
  * Query vectors are always the tiny side and always `broadcast()` — the
  * big vector table is scanned once, map-side, with the dot products
  * folded inside whole-stage codegen; top-k uses the bounded-heap
  * `graft_topk` aggregate ([[graft.functions.TopKByScore]]): each map
  * task keeps only k candidates per query (partial aggregation), so one
  * query's candidate set never funnels through a single task's window
  * sort — at 10k queries × big buckets the window form is a skew
  * bottleneck, the aggregate shuffles ≤ k·partitions rows per query.
  * Ties break on `vec_id` after rounding scores to 6 dp so ranking is
  * engine-deterministic.
  */
object Similarity {
  private[graft] val K = 5
  private val NQueries = 10

  // ------------------------------------------ shared ANN artifacts (r15)
  /** The expensive deterministic stages of this family — the capped kNN
    * graph, its NN-descent refinement, the exact ground-truth top-k of
    * the bounded recall sample, and the trained-PQ ADC top-k — are each
    * consumed by SEVERAL declared queries (the graph alone by four), and
    * every consumer used to rebuild its own copy: knn_graph_recall
    * scanned embeddings 14×, knn_graph_refine_recall 9× per run. A real
    * vector platform builds the index ONCE and runs every recall gate /
    * refinement / query against the published artifact — rebuilding the
    * graph per evaluation is work ∝ consumers, not ∝ data. These zones
    * publish each artifact once per (process, dataset) and serve the
    * read-back parquet (the `doc_quality`/`text_tf_df` pattern:
    * process-scoped root, so a fresh run always recomputes from source;
    * builds are flagged in the bench via `zone_built`). All artifact
    * columns are longs and round-6 doubles — the parquet round trip is
    * bit-exact, and every consumer's output is oracle-pinned unchanged. */
  private[graft] val graphEdgesZone =
    new graft.ops.DerivedZone("knn_graph_edges", Seq("embeddings.parquet"))
  private[graft] val graphCodesZone =
    new graft.ops.DerivedZone("knn_graph_codes", Seq("embeddings.parquet"))
  private[graft] val exactTopZone =
    new graft.ops.DerivedZone("knn_exact_topk", Seq("embeddings.parquet"))
  private[graft] val pqTopZone =
    new graft.ops.DerivedZone("pq_adc_topk", Seq("embeddings.parquet"))
  private[graft] val ivfCentroidZone =
    new graft.ops.DerivedZone("ivf_centroids", Seq("embeddings.parquet"))
  private[graft] val pqSeedCodesZone =
    new graft.ops.DerivedZone("pq_seed_codes", Seq("embeddings.parquet"))

  /** The production capped graph `(q_id, rank, n_id, cosine)`, zone-backed. */
  private def graphEdges(spark: SparkSession, dir: String): DataFrame =
    graphEdgesZone.get(spark, dir)(
      knnGraphFrame(spark, Tables.embeddings(spark, dir)))

  /** Exact brute-force top-k for the bounded sample (`vec_id <
    * GraphRecallNQ`), zone-backed. Per-query top-k lists are independent,
    * so every exact-baseline consumer is a filter of this one artifact:
    * [[knnBrute]] (and through it [[knnRecall]] / [[knnPqRecall]]) takes
    * `q_id < NQueries`; the graph recall gates take the full sample. */
  private def exactTopSample(spark: SparkSession, dir: String): DataFrame =
    exactTopZone.get(spark, dir) {
      val base = normed(spark, dir)
      val queries = base.filter(col("vec_id") < GraphRecallNQ)
        .select(col("vec_id").as("q_id"), col("ed"), col("nrm"))
      val scored = base.as("c")
        .join(broadcast(queries.as("q")), col("q.q_id") =!= col("c.vec_id"))
        .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
          round(cosAB, 6).as("cosine"))
      topK(scored, K)
    }

  /** Bounded-heap top-k per `q_id` over `scored(q_id, n_id, cosine)`,
    * ordered (cosine DESC, n_id ASC), emitted as ranked rows. */
  private def topK(scored: DataFrame, k: Int, dedupeIds: Boolean = false): DataFrame =
    scored.groupBy("q_id")
      .agg(graft.functions.GraftFunctions
        .topk(struct(col("cosine"), col("n_id")), k, dedupeIds).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("n_id"), col("t.score").as("cosine"))
      .orderBy("q_id", "rank")

  /** Embeddings with double-cast vectors and precomputed L2 norms. */
  private def normed(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir).select(col("vec_id"), col("label"),
      toDouble(col("embedding")).as("ed"))
      .withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.dotp(col("ed"), col("ed"))))
  }

  private val normedSql =
    s"""normed AS (
      |  SELECT vec_id, label, embedding AS emb,
      |         ${l2normSql("embedding", 64)} AS nrm
      |  FROM embeddings)""".stripMargin

  private def cosAB: Column =
    graft.functions.GraftFunctions.dotp(col("q.ed"), col("c.ed")) /
      (col("q.nrm") * col("c.nrm"))

  private val cosABSql = s"${dotSql("q.emb", "c.emb", 64)} / (q.nrm * c.nrm)"

  // -------------------------------------------------------- #25 brute kNN
  /** Brute-force cosine top-k: the exact-baseline scan. Queries (10 rows)
    * broadcast against the full table — one pass, no shuffle of the big
    * side; top-k folds map-side in the bounded-heap aggregate.
    */
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    // the 10-query exact baseline is a per-q filter of the shared
    // 30-query exact artifact (per-q top-k lists are independent) —
    // one broadcast corpus pass serves this, knn_recall, knn_pq_recall
    // and both graph recall gates
    exactTopSample(spark, dir).filter(col("q_id") < NQueries)
      .orderBy("q_id", "rank")

  val knnBruteSql: String =
    s"""WITH $normedSql,
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |         round($cosABSql, 6) AS cosine
      |  FROM normed q JOIN normed c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------ #125 range search
  /** Cosine RANGE search: every corpus vector within a similarity
    * threshold of each query — the other half of the similarity-query
    * surface (top-k answers "the k closest", range answers "everything
    * this similar": near-dup sweeps, radius joins, recall floors).
    * Result size is data-dependent, so no bounded-heap shortcut exists;
    * the comparison happens on the same round-6 cosine both engines
    * compute, so the threshold can never disagree in the last ulp.
    *
    * Scale shape: queries broadcast against one full scan — per-row
    * work, no shuffle of the corpus, output ∝ true matches. The 100 TB
    * path composes exactly like [[knnLsh]]: pre-bucket both sides with
    * the hyperplane LSH and range-scan only same-bucket candidates
    * (recall follows the measured per-cap curves in
    * CLUSTERED_RECALL.json); this operator is the exact form and the
    * oracle for that composition.
    */
  private val RangeTau = 0.35

  def knnRange(spark: SparkSession, dir: String): DataFrame = {
    val base = normed(spark, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("ed"), col("nrm"))
    base.as("c")
      .join(broadcast(queries.as("q")), col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        round(cosAB, 6).as("cosine"))
      .filter(col("cosine") >= RangeTau)
      .orderBy(col("q_id"), col("cosine").desc, col("n_id"))
  }

  val knnRangeSql: String =
    s"""WITH $normedSql
      |SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |       round($cosABSql, 6) AS cosine
      |FROM normed q JOIN normed c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id
      |WHERE round($cosABSql, 6) >= $RangeTau
      |ORDER BY q_id, cosine DESC, n_id""".stripMargin

  // ---------------------------------------------------------- #26 LSH ANN
  /** Random-hyperplane LSH ANN: 8 deterministic ±1 planes → 256 buckets;
    * each query only scores its own bucket (the scale path: bucket-key
    * equality join instead of a full scan per query).
    */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val base = normed(spark, dir)
    val bv = base.withColumn("bucket",
      graft.functions.GraftFunctions.hyperplaneBucket8(col("ed")))
    val queries = bv.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("ed"), col("nrm"), col("bucket"))
    val scored = bv.as("c")
      .join(broadcast(queries.as("q")),
        col("q.bucket") === col("c.bucket") && col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        round(cosAB, 6).as("cosine"))
    topK(scored, K)
  }

  val knnLshSql: String = {
    def projSql(p: Int): String =
      seqSumSql(s"list_transform(range(64), i -> " +
        s"CAST(emb[i+1] AS DOUBLE) * ${planeSignSql(p, "i")})")
    val bucket = (0 until 8).foldLeft("CAST(0 AS BIGINT)") { (acc, p) =>
      s"($acc * 2 + (CASE WHEN ${projSql(p)} > 0 THEN 1 ELSE 0 END))"
    }
    s"""WITH $normedSql,
      |bv AS (SELECT *, $bucket AS bucket FROM normed
      |       -- alias emb for the bucket expr
      |       ),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |         round($cosABSql, 6) AS cosine
      |  FROM bv q JOIN bv c
      |    ON q.vec_id < $NQueries AND q.bucket = c.bucket AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin
  }

  // -------------------------------------------------- #100 knn graph
  /** k-NN GRAPH over the whole corpus: every node's top-k most-similar
    * neighbors — the all-nodes counterpart of [[knnLsh]] (queries are not
    * a broadcast-able subset; BOTH sides are the corpus), and the input
    * structure for graph-based curation (SemDeDup-style clustering,
    * connectivity audits, diversity sampling).
    *
    * Scale shape: candidate generation is the LSH bucket EQUALITY
    * self-join — a shuffle join on the bucket key, work ∝ Σ(bucket
    * size²) rather than N² — and per-node top-k folds map-side in the
    * bounded-heap `graft_topk` aggregate, so no node's candidate list
    * funnels through one task's sort. Nodes alone in their bucket have
    * no edges (the LSH recall trade, mirrored exactly by the oracle).
    */
  /** Candidate budget per node in [[knnGraph]]: a bucket larger than this
    * splits into cells and neighbors are drawn within the cell. This is
    * what keeps the graph LINEAR in corpus size — with a fixed plane
    * count, bucket population grows ∝ N and the raw bucket self-join is
    * Σ bucket² = O(N²/256); the cell split caps per-node candidates at
    * ~GraphCell regardless of N (the candidate-sampling trade every
    * production kNN-graph builder makes; recall is tuned by the budget).
    * Measured: without the cap the 10× scale point costs 113 s (and
    * 100× would be a cluster-day); with it, candidates stay bounded.
    *
    * The split is SIMILARITY-AWARE: an oversized bucket subdivides along
    * ADDITIONAL hyperplane bits of the same LSH code (a bucket wanting
    * `s = ceil(size/cap)` cells uses `d = ceil(log2(s))` extra bits, so
    * `cell` = the code's top `8+d` bits), not by row id. The first cut
    * of this operator split by `vec_id % s` — portable, but similarity-
    * BLIND: [[knnGraphRecall]] measured it collapsing to ~0% recall at
    * the ×100 scale point (a true neighbor's chance of sharing a random
    * cell is cap/bucket → 0 as N grows), where the prefix split degrades
    * gracefully (each extra bit costs one more plane-agreement factor,
    * the same ~0.9/bit the 8-bit bucketing itself pays — recall falls
    * polynomially in log N, not linearly in N). Same join shape, same
    * linear work bound; only the cell id derivation changed.
    */
  val GraphCell = 64

  /** Hyperplane code width for the graph build: 8 bucket bits + up to
    * [[GraphSplitBits]] split bits. 2^16 cells per bucket bounds the
    * split at ~2^24 total cells — at cap 64 that is headroom for a
    * trillion-vector corpus before the divisor chain saturates. */
  private val GraphPlanes = 24
  private val GraphSplitBits: Int = GraphPlanes - 8

  /** Independent LSH code tables the graph build unions candidates
    * across (table t uses planes `[t·24, t·24+24)` — disjoint plane
    * sets, so the tables are independent trials). Multi-table is THE
    * recall knob single-probe LSH lacks: one b-bit table finds a
    * neighbor with per-plane agreement p at rate p^b; T tables lift it
    * to `1 - (1-p^b)^T` at T× bounded candidate cost (work stays linear
    * in N — Σ cell² per table). Measured at the ×100 point (200k
    * vectors; the synthetic corpus is ADVERSARIAL for ANN — exact top-5
    * cosines ≈ 0.5, so per-plane agreement p = 1 − θ/π ≈ 0.67): cap-64
    * recall@5 0.7% → 4.0% going 1 → 4 tables, bucket-only ceiling 3.3%
    * → 16% — the 1-(1-x)^4 ≈ 4x small-x regime exactly. On
    * curation-grade neighbors (cos ≥ 0.9, p ≥ 0.86) the same config
    * MEASURES 68% at cap 64 / 85% uncapped, with one NN-descent round
    * lifting 68% → 78% (`tools/ClusteredCorpus` planted-cluster corpus,
    * 200k vectors, true top-5 cosines 0.91–0.93 — CLUSTERED_RECALL.json,
    * round 10; the earlier ~50–75% figure was computed from the
    * per-plane model and the measurement lands inside it); the planted
    * near-duplicate spec pins the cos≈1 case into the same cell of
    * EVERY table. */
  private val GraphTables = 4

  /** Divisor `2^(GraphSplitBits - d)` for a bucket wanting `s` cells,
    * `d = ceil(log2(s))` clamped to [[GraphSplitBits]] — exact integer
    * when-chain (no float log2 edge at powers of two), mirrored
    * literally by [[cellDivisorSql]]. */
  private def cellDivisor(s: Column): Column =
    (1 until GraphSplitBits).foldLeft(
      when(s <= 1L, lit(1L << GraphSplitBits))) { (acc, d) =>
      acc.when(s <= (1L << d), lit(1L << (GraphSplitBits - d)))
    }.otherwise(lit(1L))

  private def cellDivisorSql(s: String): String = {
    val whens = (0 until GraphSplitBits).map(d =>
      s"WHEN $s <= ${1L << d} THEN ${1L << (GraphSplitBits - d)}").mkString(" ")
    s"(CASE $whens ELSE 1 END)"
  }

  /** `(tbl, bucket, dvs)` for every table-bucket of `codes` under
    * candidate budget `cap`: the prefix divisor such that `cell =
    * code div dvs`. A ≤ T·256-row broadcast aggregate. */
  private def bucketDivisors(codes: DataFrame, cap: Int): DataFrame =
    codes.groupBy("tbl", "bucket").agg(count(lit(1)).as("cnt"))
      .select(col("tbl"), col("bucket"),
        cellDivisor(expr(s"(cnt + ${cap - 1}) div $cap")).as("dvs"))

  /** `codes` plus its `cell` column under `cap` — the broadcast divisor
    * join every graph path shares. */
  private def withCells(codes: DataFrame, divisors: DataFrame): DataFrame =
    codes.join(broadcast(divisors), Seq("tbl", "bucket"))
      .withColumn("cell", expr("code div dvs")).drop("dvs")

  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    graphEdges(spark, dir).orderBy("q_id", "rank")
  }

  /** Spec hook: the `(vec_id, tbl, bucket, cell)` frame [[knnGraphFrame]]
    * self-joins on, for an explicit vector frame and cap — lets the split
    * behavior be asserted on corpora big enough to actually split. */
  private[graft] def knnGraphCellsForSpec(vectors: DataFrame, cap: Int): DataFrame = {
    val codes = codedTables(vecBase(vectors), GraphTables)
    withCells(codes, bucketDivisors(codes, cap))
  }

  /** `(vec_id, ed, nrm)` — vectors with double casts and norms, the
    * scoring side every graph path joins back to. */
  private[graft] def vecBase(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), toDouble(col("embedding")).as("ed"))
      .withColumn("nrm",
        sqrt(graft.functions.GraftFunctions.dotp(col("ed"), col("ed"))))

  /** SLIM long-form multi-table codes `(vec_id, tbl, code, bucket)` —
    * 4 longs per (vector, table), NO vector payload: candidate
    * generation moves only ids, and the 64-double embeddings join in
    * exactly once, after pair dedupe. Table t's code uses planes
    * `[t·GraphPlanes, (t+1)·GraphPlanes)`; `bucket` is each code's top
    * 8 bits (table 0's equals
    * [[graft.functions.GraftFunctions.hyperplaneBucket8]] by
    * construction). */
  private def codedTables(base: DataFrame, tables: Int): DataFrame =
    base.select(col("vec_id"), posexplode(array((0 until tables).map(t =>
        graft.functions.GraftFunctions
          .hyperplaneCode(col("ed"), t * GraphPlanes, GraphPlanes)): _*))
      .as(Seq("tbl", "code")))
      .withColumn("bucket", expr(s"code div ${1L << GraphSplitBits}"))

  /** Exact-cosine scores for an id-pair stream: two equi-joins against
    * the vector base — the single place embeddings attach. */
  private def scorePairs(pairs: DataFrame, base: DataFrame): DataFrame =
    pairs
      .join(base.select(col("vec_id").as("q_id"), col("ed").as("q_ed"),
        col("nrm").as("q_nrm")), "q_id")
      .join(base.select(col("vec_id").as("n_id"), col("ed").as("n_ed"),
        col("nrm").as("n_nrm")), "n_id")
      .select(col("q_id"), col("n_id"),
        round(graft.functions.GraftFunctions.dotp(col("q_ed"), col("n_ed")) /
          (col("q_nrm") * col("n_nrm")), 6).as("cosine"))

  /** [[knnGraph]] over an explicit `(vec_id, embedding)` frame.
    *
    * Scoring is FUSED into the cell self-join: the vector payload
    * attaches once per (vector, table) row, so the only FAT exchange is
    * the cell join's N·T rows — linear in the corpus — and the ~T·cap·N
    * pair stream exists only inside the join stage, collapsing straight
    * into the map-side `graft_topk` partial aggregate (with
    * `dedupeIds`: a pair co-occurring in several tables carries the
    * same exact cosine, so heap id-dedupe ≡ pair-distinct, minus the
    * distinct's shuffle). The previous shape — slim id pairs, distinct,
    * THEN re-join both vector payloads — shuffled the ~T·cap·N pair
    * stream fat (pair rows × 64-double payloads, ≈55× more exchange
    * bytes than the corpus itself): fine while it fit in executor
    * memory, a spill cliff past it (measured on the isolated ×300 leg,
    * best-of-3: 15.05 s → 225.8 s for 3× data from ×100; this form
    * measures 2.98 s → 12.65 s on identical data — 5×/18× faster and
    * back near the linear-work line). */
  private[graft] def knnGraphFrame(spark: SparkSession, vectors: DataFrame): DataFrame = {
    val base = vecBase(vectors)
    val codes = codedTables(base, GraphTables)
    // the payload rides the fat N·T cell exchange in its STORAGE type
    // (array<float>, half the bytes of the pre-widened doubles) and is
    // scored by graft_dotf, which accumulates float→double casts — a
    // bit-identical cosine (the cast is exact, the fold order the same;
    // `nrm` likewise: dotf(ef,ef) ≡ dot(ed,ed)). Round-13 probe data:
    // this exchange's IO timing is the build stage's only variance
    // source (41.2→89.9 s run-to-run at ×1000 on identical plans), so
    // halving its bytes halves the exposure.
    val baseF = vectors.select(col("vec_id"), col("embedding").as("ef"))
      .withColumn("nrm", sqrt(
        graft.functions.GraftFunctions.dotpf(col("ef"), col("ef"))))
    val cc = withCells(codes, bucketDivisors(codes, GraphCell))
      .join(baseF, "vec_id")
      .select(col("vec_id"), col("tbl"), col("bucket"), col("cell"),
        col("ef"), col("nrm"))
    val scored = cc.select(col("vec_id").as("q_id"), col("tbl"), col("bucket"),
        col("cell"), col("ef").as("q_ef"), col("nrm").as("q_nrm"))
      .join(cc.select(col("vec_id").as("n_id"), col("tbl"), col("bucket"),
        col("cell"), col("ef").as("n_ef"), col("nrm").as("n_nrm")),
        Seq("tbl", "bucket", "cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(graft.functions.GraftFunctions.dotpf(col("q_ef"), col("n_ef")) /
          (col("q_nrm") * col("n_nrm")), 6).as("cosine"))
    topK(scored, K, dedupeIds = true)
  }

  /** DuckDB twin of [[codedTables]]: one `bvb$t(vec_id, code, bucket)`
    * CTE per table (slim — the embeddings re-join from `normed` at
    * scoring time, like the Spark side). Shared prefix of every graph
    * oracle. */
  private def graphCodeCtesSql: String = {
    def projSql(p: Int): String =
      seqSumSql(s"list_transform(range(64), i -> " +
        s"CAST(emb[i+1] AS DOUBLE) * ${planeSignSql(p, "i")})")
    (0 until GraphTables).map { t =>
      val code = (t * GraphPlanes until (t + 1) * GraphPlanes)
        .foldLeft("CAST(0 AS BIGINT)") { (acc, p) =>
          s"($acc * 2 + (CASE WHEN ${projSql(p)} > 0 THEN 1 ELSE 0 END))"
        }
      s"""code$t AS (SELECT vec_id, $code AS code FROM normed),
        |bvb$t AS (SELECT *, code // ${1L << GraphSplitBits} AS bucket FROM code$t)""".stripMargin
    }.mkString(",\n")
  }

  /** DuckDB twin of [[bucketDivisors]] + [[withCells]] and the
    * `(tbl, bucket, cell)` self-join under `cap`: per-table
    * `cells${t}$tag`/`bvc${t}$tag` CTEs and the deduped union
    * `pairs$tag(q_id, n_id)`; `qPred` optionally restricts
    * the q side (the recall harness's bounded sample). */
  private def graphPairsSql(tag: String, cap: Int, qPred: String = ""): String = {
    val perTable = (0 until GraphTables).map { t =>
      s"""cells$t$tag AS (SELECT bucket,
        |  ${cellDivisorSql(s"((count(*) + ${cap - 1}) // $cap)")} AS dvs
        |  FROM bvb$t GROUP BY bucket),
        |bvc$t$tag AS (SELECT bvb$t.*, bvb$t.code // c.dvs AS cell
        |        FROM bvb$t JOIN cells$t$tag c ON bvb$t.bucket = c.bucket)""".stripMargin
    }.mkString(",\n")
    val unioned = (0 until GraphTables).map { t =>
      s"""SELECT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM bvc$t$tag q JOIN bvc$t$tag c
        |    ON q.bucket = c.bucket AND q.cell = c.cell AND c.vec_id <> q.vec_id
        |  $qPred""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$perTable,
      |pairs$tag AS (SELECT DISTINCT q_id, n_id FROM (
      |  $unioned) u)""".stripMargin
  }

  /** DuckDB twin of [[scorePairs]] + [[topK]] over `pairs$tag`. */
  private def graphTopKSql(tag: String): String =
    s"""scored$tag AS (
      |  SELECT p.q_id, p.n_id,
      |         round(${dotSql("q.emb", "n.emb", 64)} / (q.nrm * n.nrm), 6) AS cosine
      |  FROM pairs$tag p JOIN normed q ON p.q_id = q.vec_id
      |                   JOIN normed n ON p.n_id = n.vec_id),
      |ranked$tag AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored$tag)""".stripMargin

  val knnGraphSql: String =
    s"""WITH $normedSql,
      |$graphCodeCtesSql,
      |${graphPairsSql("", GraphCell)},
      |${graphTopKSql("")}
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin

  // ----------------------------------------- #111 knn graph recall eval
  /** Candidate-cap settings [[knnGraphRecall]] measures: the production
    * default ([[GraphCell]] = 64) bracketed by a 4× tighter and a 4×
    * looser budget, plus an effectively-UNCAPPED setting (2^20: no bucket
    * ever splits, s=1 everywhere) that is the pure-LSH recall ceiling —
    * so the cap's own recall cost reads directly as
    * `recall(2^20) - recall(64)`, separated from the recall the 8-plane
    * bucketing itself trades away (which [[knnRecall]] measures for the
    * query-set path). A measured curve, not a guess. */
  val GraphRecallCaps: Seq[Int] = Seq(16, 64, 256, 1 << 20)
  /** Fixed query-sample size — recall is evaluated on a bounded node
    * sample (`vec_id < 30`) so the exact ground-truth scan stays one
    * broadcast-sample pass over the corpus at ANY data scale (a
    * proportional sample would make ground truth quadratic). */
  val GraphRecallNQ = 30

  /** #111 knn_graph_recall: recall@k of the cell-capped kNN graph
    * ([[knnGraph]]) against exact brute-force neighbor lists, per cap
    * setting — the quality gate for the one approximation [[knnGraph]]
    * makes (the `GraphCell` candidate budget that keeps graph
    * construction linear in N). Same evaluation shape as [[knnRecall]] /
    * [[knnPqRecall]]: ground truth from the exact scan, production
    * candidate rule replayed verbatim, hits counted by one (query,
    * neighbor) equi-join.
    *
    * Scale shape: ground truth is ONE broadcast join of the 30-node
    * sample against the corpus (map-side dot products, bounded-heap
    * top-k); each cap's graph side re-derives the per-table cell splits
    * from the SAME slim code frame (a ≤ T·256-row broadcast agg per
    * cap), restricts the q side to the sample BEFORE the pair dedupe,
    * and rescores only the surviving id pairs. Candidate semantics
    * (per-table bucket+cell equality, cross-table dedupe, self
    * exclusion, 6-dp rounding, vec_id tiebreak) match [[knnGraph]]
    * line-for-line so the measured recall is the production graph's:
    * each cap leg IS [[graphSampleEdges]], the replay `SimilaritySpec`
    * pins to [[knnGraph]]'s own edges. The whole query is one pure plan
    * (no lineage cut), so its SQL and Scala faces plan identically.
    */
  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    val (base, codes) = graphRecallFrames(spark, dir)
    val exact = exactTopSample(spark, dir).select(col("q_id"), col("n_id"))
    val nExact = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
    val perCap = GraphRecallCaps.map { cap =>
      val approx = graphSampleEdges(base, codes, cap)
      val hits = exact.join(approx, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
      nExact.join(hits, Seq("q_id"), "left")
        .select(lit(cap).as("cap"), col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 6).as("recall"))
    }
    perCap.reduce(_ unionAll _).orderBy("cap", "q_id")
  }

  /** The production [[knnGraph]] candidate rule replayed for a bounded
    * node sample under an explicit cap: per-table cell splits from the
    * FULL slim code frame, q side restricted to the sample before the
    * pair dedupe, exact rescore, bounded-heap top-k → `(q_id, n_id)`
    * edges. `SimilaritySpec` pins that at cap=[[GraphCell]] these edges
    * equal [[knnGraph]]'s own edges for the same nodes — so
    * [[knnGraphRecall]] measures the graph that ships, not a
    * reimplementation that could drift. */
  private[graft] def graphSampleEdges(base: DataFrame, codes: DataFrame,
                                      cap: Int): DataFrame = {
    val cc = withCells(codes, bucketDivisors(codes, cap))
    val pairs = cc.filter(col("vec_id") < GraphRecallNQ)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"), col("cell"))
      .join(cc.select(col("vec_id").as("n_id"), col("tbl"), col("bucket"),
        col("cell")), Seq("tbl", "bucket", "cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).distinct()
    topK(scorePairs(pairs, base), K).select(col("q_id"), col("n_id"))
  }

  /** Vector base + slim multi-table code frame for [[knnGraphRecall]] —
    * the same frames [[knnGraphFrame]] builds. */
  private[graft] def graphRecallFrames(spark: SparkSession,
                                       dir: String): (DataFrame, DataFrame) = {
    val base = vecBase(Tables.embeddings(spark, dir))
    // zone-backed codes: the recall harness re-reads this frame TWICE PER
    // CAP (divisor aggregate + cell join — 8 lineage replays of the
    // N·T·24-plane coding per run); the published slim frame makes each
    // replay a 4-long-column parquet scan
    (base, graphCodesZone.get(spark, dir)(codedTables(base, GraphTables)))
  }

  val knnGraphRecallSql: String = {
    val capCtes = GraphRecallCaps.map { cap =>
      s"""${graphPairsSql(s"_$cap", cap, s"WHERE q.vec_id < $GraphRecallNQ")},
        |${graphTopKSql(s"_$cap")},
        |gt$cap AS (SELECT q_id, n_id FROM ranked_$cap WHERE rank <= $K),
        |h$cap AS (
        |  SELECT e.q_id, count(*) AS n_hits
        |  FROM etop e JOIN gt$cap g ON e.q_id = g.q_id AND e.n_id = g.n_id
        |  GROUP BY 1),
        |r$cap AS (
        |  SELECT $cap AS cap, n.q_id, COALESCE(h.n_hits, 0) AS n_hits,
        |         round(COALESCE(h.n_hits, 0) / n.n_exact, 6) AS recall
        |  FROM nexact n LEFT JOIN h$cap h ON n.q_id = h.q_id)""".stripMargin
    }.mkString(",\n")
    val unioned = GraphRecallCaps.map(cap => s"SELECT * FROM r$cap")
      .mkString("\nUNION ALL ")
    s"""WITH $normedSql,
      |$graphCodeCtesSql,
      |sample AS (SELECT * FROM normed WHERE vec_id < $GraphRecallNQ),
      |escored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM sample q JOIN normed c ON c.vec_id <> q.vec_id),
      |etop AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM escored) t WHERE r <= $K),
      |nexact AS (SELECT q_id, count(*) AS n_exact FROM etop GROUP BY 1),
      |$capCtes
      |$unioned
      |ORDER BY cap, q_id""".stripMargin
  }

  // -------------------------------------------- #112 knn graph NN-descent
  /** #112 knn_graph_refine: one NN-descent round over the capped graph
    * ([[knnGraph]]) — the standard recall-recovery move of every
    * production kNN-graph builder (NN-Descent, Dong et al. WWW'11):
    * a node's true neighbors are likely neighbors-of-neighbors, so the
    * candidate set for each node u is every two-hop path u—v—w through
    * the UNDIRECTED current graph; candidates are rescored with the
    * exact cosine and merged into the existing top-k lists.
    *
    * Scale shape (all bounds per round, N = corpus size, k = [[K]]):
    * the undirected adjacency is forward edges (≤ k per node) plus
    * reverse edges CAPPED at k per node — the cap folds map-side in the
    * bounded-heap `graft_topk` aggregate (NN-Descent's ρ-sampling; an
    * uncapped reverse list of a hub node would make the two-hop join
    * quadratic in its in-degree). |adj| ≤ 2kN, per-src degree ≤ 2k, so
    * the two-hop self-join emits ≤ 4k²N candidate pairs — LINEAR in N —
    * and rescoring is two equi-joins of that pair stream against the
    * vector table. Deterministic end-to-end: the reverse cap breaks ties
    * (cosine desc, id asc) like every other ranking here, and the final
    * merge rescans exact cosines, so the oracle mirrors it row-for-row.
    * Recall lift is measured by [[knnGraphRefineRecall]]; further rounds
    * compound (each is this same operator over its own output).
    */
  /** NN-descent round count: `spark.graft.refine.rounds`, default 1 — the
    * oracle-gated shape. Rounds compound (each is [[refineRound]] over
    * the previous round's edges); the measured cost/recall curve on the
    * planted-cluster corpus is 68% → 78% (round 1) → 82% (round 2)
    * against the 84.7% LSH-candidate ceiling (`CLUSTERED_RECALL.json`,
    * `tools/ClusteredRecallBench`), so round 2 buys half the remaining
    * headroom for one more linear 4k²N candidate pass.
    *
    * THE DEPLOYMENT RECOMMENDATION IS 2 (`-Dspark.graft.refine.rounds=2`
    * in `GRAFT_JAVA_OPTS`, or the same key in `spark-defaults.conf`): at
    * ×1000 density (`CLUSTERED_RECALL_X1000.json`) capped LSH degrades
    * 68% → 42% while round 2 recovers 82.7%, above the 79.3%
    * unbounded-LSH ceiling — the cap is the scale-survival mechanism
    * and round 2 is what buys the recall back. 1 here is only the
    * bare-library shape the oracle pins. */
  private[graft] def refineRounds(spark: SparkSession): Int = {
    val r = spark.conf.getOption("spark.graft.refine.rounds")
      .map(_.trim.toInt).getOrElse(1)
    require(r >= 1, s"spark.graft.refine.rounds must be >= 1, got $r")
    r
  }

  /** One zone per configured round count (rounds change the artifact, so
    * they key its name; the map stays size ≤ the distinct configs seen). */
  private val refinedZones =
    new java.util.concurrent.ConcurrentHashMap[Int, graft.ops.DerivedZone]()

  /** The refined graph `(q_id, rank, n_id, cosine)` after the configured
    * NN-descent rounds, zone-backed: the refinement starts from the
    * PUBLISHED capped graph ([[graphEdges]]) instead of replaying the
    * whole graph build, and its own output is published for the recall
    * gate ([[knnGraphRefineRecall]]) — previously both queries re-ran
    * build + refine end-to-end. */
  private def refinedEdges(spark: SparkSession, dir: String): DataFrame = {
    val rounds = refineRounds(spark)
    refinedZones.computeIfAbsent(rounds, r =>
        new graft.ops.DerivedZone(s"knn_graph_refined_r$r", Seq("embeddings.parquet")))
      .get(spark, dir) {
        val base = vecBase(Tables.embeddings(spark, dir))
        var edges = graphEdges(spark, dir)
          .select(col("q_id"), col("n_id"), col("cosine"))
        var out: DataFrame = null
        for (_ <- 1 to rounds) {
          out = refineRound(base, edges)
          edges = out.select(col("q_id"), col("n_id"), col("cosine"))
        }
        out
      }
  }

  def knnGraphRefine(spark: SparkSession, dir: String): DataFrame = {
    refinedEdges(spark, dir).orderBy("q_id", "rank")
  }

  /** One NN-descent round over an explicit `(q_id, n_id, cosine)` edge
    * frame — the body of [[knnGraphRefine]], factored so further rounds
    * compound (round r+1 is this function over round r's output; the
    * round-2 lift is measured by `tools/ClusteredRecallBench`). */
  private[graft] def refineRound(base: DataFrame, edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("q_id").as("src"), col("n_id").as("dst"))
    val revCapped = edges
      .select(col("n_id").as("src"), col("q_id").as("dst"), col("cosine"))
      .groupBy("src")
      .agg(graft.functions.GraftFunctions
        .topk(struct(col("cosine"), col("dst")), K).as("tk"))
      .select(col("src"), explode(col("tk")).as("t"))
      .select(col("src"), col("t.id").as("dst"))
    val adj = fwd.unionByName(revCapped).distinct()
    // Shape note, measured not assumed (×300, best-of-N): two plausible
    // "optimizations" of this block were tried in round 9 and REJECTED
    // by measurement against this form's 25-29 s:
    //  - knnGraphFrame's fused scoring (vector payloads riding the 2kN
    //    adjacency through the mid-node join, heap dedupe): 57.8 s. The
    //    difference is two-hop MULTIPLICITY — the same (u,w) reaches the
    //    join via many shared neighbors v, so fusion pays the 64-dim
    //    rescore per PATH while `distinct()` collapses paths to pairs
    //    (slim rows) before any payload attaches. Fusion wins when
    //    duplication is rare (the cell join's cross-table dupes are
    //    ~0.04%); here duplication is the dominant term.
    //  - `edges.localCheckpoint()` to pin the 3-reference graph build:
    //    65.8 s — the checkpoint materializes the builder's final
    //    range-sort for real and blocks the optimizer's cross-reference
    //    exchange reuse + sort elimination, costing far more than the
    //    re-executed lineage it saves.
    val cand = adj.as("a")
      .join(adj.as("b"), col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
      .select(col("a.src").as("q_id"), col("b.dst").as("n_id"))
    val pairs = cand.unionByName(edges.select(col("q_id"), col("n_id"))).distinct()
    topK(scorePairs(pairs, base), K)
  }

  /** CTE chain shared by the refine oracle and its recall gate: graph
    * code → capped graph `g` → one NN-descent round → `refined`
    * (`q_id, rank, n_id, cosine`, rank ≤ [[K]]). */
  private def refineCtesSql: String =
    s"""$graphCodeCtesSql,
      |${graphPairsSql("_g", GraphCell)},
      |${graphTopKSql("_g")},
      |g AS (SELECT q_id, n_id, cosine FROM ranked_g WHERE rank <= $K),
      |fwd AS (SELECT q_id AS src, n_id AS dst FROM g),
      |revc AS (
      |  SELECT src, dst FROM (
      |    SELECT n_id AS src, q_id AS dst,
      |           row_number() OVER (PARTITION BY n_id ORDER BY cosine DESC, q_id) AS r
      |    FROM g) t WHERE r <= $K),
      |adj AS (SELECT DISTINCT src, dst FROM (
      |  SELECT * FROM fwd UNION ALL SELECT * FROM revc) u),
      |cand AS (
      |  SELECT DISTINCT a.src AS q_id, b.dst AS n_id
      |  FROM adj a JOIN adj b ON a.dst = b.src AND a.src <> b.dst),
      |pairs AS (SELECT DISTINCT q_id, n_id FROM (
      |  SELECT q_id, n_id FROM cand UNION ALL SELECT q_id, n_id FROM g) u),
      |rescored AS (
      |  SELECT p.q_id, p.n_id,
      |         round(${dotSql("q.emb", "n.emb", 64)} / (q.nrm * n.nrm), 6) AS cosine
      |  FROM pairs p JOIN normed q ON p.q_id = q.vec_id
      |               JOIN normed n ON p.n_id = n.vec_id),
      |refined AS (
      |  SELECT q_id, r AS rank, n_id, cosine FROM (
      |    SELECT q_id, n_id, cosine,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM rescored) t WHERE r <= $K)""".stripMargin

  val knnGraphRefineSql: String =
    s"""WITH $normedSql,
      |$refineCtesSql
      |SELECT q_id, rank, n_id, cosine FROM refined
      |ORDER BY q_id, rank""".stripMargin

  /** #113 knn_graph_refine_recall: recall@k of the refined graph
    * ([[knnGraphRefine]]) against exact neighbor lists on the same
    * bounded node sample [[knnGraphRecall]] uses — together they give
    * the before/after recall curve of the NN-descent round at the
    * shipped cap. Ground truth is the same single broadcast-sample
    * corpus pass; the refined side restricts to the sample AFTER the
    * (linear) full-graph round, since a node's two-hop candidates need
    * its neighbors' full lists. */
  def knnGraphRefineRecall(spark: SparkSession, dir: String): DataFrame = {
    val refined = refinedEdges(spark, dir)
      .filter(col("q_id") < GraphRecallNQ).select(col("q_id"), col("n_id"))
    val exact = exactTopSample(spark, dir).select(col("q_id"), col("n_id"))
    val nExact = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(refined, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    nExact.join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 6).as("recall"))
      .orderBy("q_id")
  }

  val knnGraphRefineRecallSql: String =
    s"""WITH $normedSql,
      |$refineCtesSql,
      |sample AS (SELECT * FROM normed WHERE vec_id < $GraphRecallNQ),
      |escored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM sample q JOIN normed c ON c.vec_id <> q.vec_id),
      |etop AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM escored) t WHERE r <= $K),
      |nexact AS (SELECT q_id, count(*) AS n_exact FROM etop GROUP BY 1),
      |h AS (
      |  SELECT e.q_id, count(*) AS n_hits
      |  FROM etop e JOIN refined f ON e.q_id = f.q_id AND e.n_id = f.n_id
      |  WHERE f.q_id < $GraphRecallNQ
      |  GROUP BY 1)
      |SELECT n.q_id, COALESCE(h.n_hits, 0) AS n_hits,
      |       round(COALESCE(h.n_hits, 0) / n.n_exact, 6) AS recall
      |FROM nexact n LEFT JOIN h ON n.q_id = h.q_id
      |ORDER BY n.q_id""".stripMargin

  // ------------------------------------------------- #37 filtered search
  /** Pre-filtered vector search: a metadata predicate (documents in
    * English with enough tokens) narrows the candidate set BEFORE the
    * similarity scan — the filter join prunes the vector scan instead of
    * post-filtering top-k results (which can return < k). The docs→vecs
    * join is on the shared id, queries stay broadcast.
    */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val base = normed(spark, dir)
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === "en" && size(split(col("text"), " ")) >= 30)
      .select(col("doc_id").as("vec_id"))
    val cands = base.join(allowed, "vec_id")
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("ed"), col("nrm"))
    val scored = cands.as("c")
      .join(broadcast(queries.as("q")), col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        round(cosAB, 6).as("cosine"))
    topK(scored, 3)
  }

  val knnFilteredSql: String =
    s"""WITH $normedSql,
      |allowed AS (
      |  SELECT doc_id AS vec_id FROM documents
      |  WHERE lang = 'en' AND len(string_split(text, ' ')) >= 30),
      |cands AS (SELECT n.* FROM normed n JOIN allowed a ON n.vec_id = a.vec_id),
      |queries AS (SELECT vec_id AS q_id, emb, nrm FROM normed WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM cands c CROSS JOIN queries q
      |  WHERE q.q_id <> c.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- #39 ANN recall eval
  /** Recall@k of the LSH index against the exact brute-force baseline —
    * the index-quality evaluation an ANN deployment runs after every
    * rebuild (recall = |LSH top-k ∩ exact top-k| / k per query). Both
    * rankings reuse the production pipelines; the comparison is one
    * equi-join on (query, neighbor) + per-query counts.
    */
  def knnRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBrute(spark, dir).select(col("q_id"), col("n_id"))
    val approx = knnLsh(spark, dir).select(col("q_id"), col("n_id"))
    val hits = exact.join(approx, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) / col("n_exact"), 6).as("recall"))
      .orderBy("q_id")
  }

  val knnRecallSql: String = {
    def projSql(p: Int): String =
      seqSumSql(s"list_transform(range(64), i -> " +
        s"CAST(emb[i+1] AS DOUBLE) * ${planeSignSql(p, "i")})")
    val bucket = (0 until 8).foldLeft("CAST(0 AS BIGINT)") { (acc, p) =>
      s"($acc * 2 + (CASE WHEN ${projSql(p)} > 0 THEN 1 ELSE 0 END))"
    }
    s"""WITH $normedSql,
      |bv AS (SELECT *, $bucket AS bucket FROM normed),
      |bscored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM normed q JOIN normed c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
      |btop AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM bscored) t WHERE r <= $K),
      |lscored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM bv q JOIN bv c
      |    ON q.vec_id < $NQueries AND q.bucket = c.bucket AND c.vec_id <> q.vec_id),
      |ltop AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM lscored) t WHERE r <= $K),
      |hits AS (
      |  SELECT b.q_id, count(*) AS n_hits
      |  FROM btop b JOIN ltop l ON b.q_id = l.q_id AND b.n_id = l.n_id
      |  GROUP BY 1),
      |exact AS (SELECT q_id, count(*) AS n_exact FROM btop GROUP BY 1)
      |SELECT e.q_id, COALESCE(h.n_hits, 0) AS n_hits,
      |       round(COALESCE(h.n_hits, 0) / e.n_exact, 6) AS recall
      |FROM exact e LEFT JOIN hits h ON e.q_id = h.q_id
      |ORDER BY e.q_id""".stripMargin
  }

  // ------------------------------------------------------ #27 IVF probing
  /** IVF-style coarse quantizer: per-`label` centroids (the "inverted
    * lists"), each query probes its 2 nearest centroids and searches only
    * those lists. Centroid dims are rounded to 3 dp in both engines so the
    * (order-dependent) float aggregation can't leak into results.
    */
  /** Per-label coarse-quantizer centroids `(label, ed, nrm)`,
    * zone-backed: [[centroidIvf]] and [[knnIvfPq]] used to aggregate the
    * identical centroid table from the full corpus independently; the
    * zone builds it once and both routers read ≤|labels| rows. Serving
    * the materialized round-3 dims to every consumer also removes any
    * exposure to float-avg accumulation order differing between runs. */
  private def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    ivfCentroidZone.get(spark, dir) {
      val base = normed(spark, dir)
      val centAggs = (0 until 64).map(i =>
        round(avg(element_at(col("ed"), i + 1)), 3).as(s"c$i"))
      base.groupBy("label")
        .agg(centAggs.head, centAggs.tail: _*)
        .select(col("label"),
          array((0 until 64).map(i => col(s"c$i")): _*).as("ed"))
        .withColumn("nrm",
          sqrt(graft.functions.GraftFunctions.dotp(col("ed"), col("ed"))))
    }

  def centroidIvf(spark: SparkSession, dir: String): DataFrame = {
    val base = normed(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("ed"), col("nrm"))
    val qc = cents.as("c").crossJoin(broadcast(queries.as("q")))
      .select(col("q.q_id").as("q_id"), col("c.label").as("label"),
        round(cosAB, 6).as("ccos"))
    // the probe-selection window runs over queries × centroids only (a few
    // dozen rows — the coarse quantizer is tiny by construction), so the
    // window form is fine here; the big scored set below uses the
    // bounded-heap aggregate.
    val wc = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("label"))
    val probes = qc.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= 2)
      .select(col("q_id"), col("label"))
    val scored = base.as("c")
      .join(broadcast(probes.join(queries.as("q"), "q_id")
          .select(col("q_id"), col("label"), col("ed"), col("nrm")).as("q")),
        col("q.label") === col("c.label") && col("q.q_id") =!= col("c.vec_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        round(cosAB, 6).as("cosine"))
    topK(scored, 3)
  }

  val centroidIvfSql: String = {
    val centDot = seqSumSql(s"list_transform(range(64), k -> " +
      s"CAST(q.emb[k+1] AS DOUBLE) * c.ed[k+1])")
    s"""WITH $normedSql,
      |cent_long AS (
      |  SELECT label, i, round(avg(CAST(emb[i+1] AS DOUBLE)), 3) AS c
      |  FROM normed CROSS JOIN (SELECT unnest(range(64)) AS i) ii
      |  GROUP BY label, i),
      |cents AS (
      |  SELECT label, list(c ORDER BY i) AS ed,
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list(c * c ORDER BY i)), (acc, x) -> acc + x)) AS nrm
      |  FROM cent_long GROUP BY label),
      |queries AS (SELECT vec_id AS q_id, emb, nrm FROM normed WHERE vec_id < $NQueries),
      |qc AS (
      |  SELECT q.q_id, c.label, round($centDot / (q.nrm * c.nrm), 6) AS ccos
      |  FROM cents c CROSS JOIN queries q),
      |probes AS (
      |  SELECT q_id, label FROM (
      |    SELECT q_id, label,
      |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, label) AS crank
      |    FROM qc) t WHERE crank <= 2),
      |scored AS (
      |  SELECT q.q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM probes p
      |  JOIN queries q ON p.q_id = q.q_id
      |  JOIN normed c ON c.label = p.label AND c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin
  }

  /** #63 knn_hard_negatives: hard-negative mining for contrastive /
    * retrieval training — for each query vector, the top-k most similar
    * vectors with a DIFFERENT label (similar-looking but wrong answers
    * are the negatives that actually teach a retriever). Identical scan
    * shape to [[knnBrute]] (broadcast queries, map-side dot products,
    * bounded-heap top-k); the label-mismatch predicate is applied in the
    * join, before anything shuffles.
    */
  def knnHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = normed(spark, dir)
    val queries = base.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("ed"), col("nrm"))
    val scored = base.as("c")
      .join(broadcast(queries.as("q")), col("q.q_label") =!= col("c.label"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        round(cosAB, 6).as("cosine"))
    topK(scored, K)
  }

  val knnHardNegativesSql: String =
    s"""WITH $normedSql,
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |         round($cosABSql, 6) AS cosine
      |  FROM normed q JOIN normed c
      |    ON q.vec_id < $NQueries AND q.label <> c.label),
      |ranked AS (
      |  SELECT q_id, n_id, cosine,
      |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, n_id, cosine FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin

  /** Number of centroids for [[kmeansIter]] (seeded from vec_id 0..7). */
  /** PQ geometry for [[knnPq]]: 8 subspaces × 8 dims, 16 codes each.
    * The codebook is SEEDED from vec_id 0..15's subvectors, then TRAINED
    * with [[PqIters]] integer Lloyd steps over a deterministic
    * 1/[[PqTrainMod]] sample ([[kmeansIter]]'s quantized-update recipe):
    * training cost ∝ sample, encode cost ∝ corpus — the real PQ-build
    * split at 100 TB. [[knnPqRecall]] reports what the training buys. */
  private val PqM = 8
  private val PqSub = 8
  private val PqCodes = 16
  private val PqIters = 2
  private val PqTrainMod = 5

  /** (vec_id, m, sv): the m-th 8-dim integer (milli-unit) subvector of
    * every vector — the shared input of codebook training, corpus
    * encoding and the per-query distance tables. */
  private def pqSub(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), e => round(e.cast("double") * 1000).cast("long")).as("qv"))
    val ms = spark.range(PqM).select(col("id").cast("int").as("m"))
    base.crossJoin(broadcast(ms))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * PqSub + 1, lit(PqSub)).as("sv"))
  }

  // native codegen'd kernel, not a zip_with/aggregate lambda (those
  // evaluate interpreted per element — see SURVEY §3)
  private def pqD2: Column = graft.functions.GraftFunctions.l2sq(col("sv"), col("cs"))

  /** Seed codebook: vec_id 0..15's subvectors per subspace. */
  private def pqSeed(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < PqCodes)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sv").as("cs"))

  /** Nearest-code assignment per (vec_id, m). The argmin is LONG-ENCODED
    * (d2 · 16 + code, code < 16, d2 ≥ 0) so the aggregate is a primitive
    * `min(long)` HashAggregate — `min(struct(d2, code))` would plan
    * SortAggregate (non-primitive buffer, per-partition sort of the
    * whole corpus×M frame; see SURVEY §3). */
  private def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"),
        (pqD2 * PqCodes + col("code")).as("ec"))
      .groupBy("vec_id", "m")
      .agg(min(col("ec")).as("ec"))
      .select(col("vec_id"), col("m"), (col("ec") % PqCodes).cast("int").as("code"))

  /** One integer Lloyd step: assign the training sample to its nearest
    * code, recompute each code's centroid as the element-wise truncated
    * integer mean (`sum div count` — Spark `div` and DuckDB `//` both
    * truncate toward zero, so both engines train the identical codebook),
    * and keep the previous centroid for a code that attracted nothing.
    */
  private def pqLloydStep(train: DataFrame, cb: DataFrame): DataFrame = {
    val assigned = pqEncode(train, cb).join(train, Seq("vec_id", "m"))
    val sums = (0 until PqSub).map(k =>
      sum(element_at(col("sv"), k + 1)).as(s"s$k")) :+ count(lit(1)).as("cnt")
    val upd = assigned.groupBy("m", "code")
      .agg(sums.head, sums.tail: _*)
      .select(col("m"), col("code"),
        array((0 until PqSub).map(k => expr(s"s$k div cnt")): _*).as("ncs"))
    cb.join(upd, Seq("m", "code"), "left")
      .select(col("m"), col("code"), coalesce(col("ncs"), col("cs")).as("cs"))
  }

  /** Trained codebook: [[PqIters]] Lloyd steps over the 1/[[PqTrainMod]]
    * deterministic sample (vec_id ≡ 0 mod 5). The codebook is 128 rows —
    * each step's update aggregates the sample map-side and the result
    * broadcasts; nothing corpus-sized shuffles during training. */
  private def pqTrained(sub: DataFrame): DataFrame = {
    val train = sub.filter(col("vec_id") % PqTrainMod === 0)
    (1 to PqIters).foldLeft(pqSeed(sub))((cb, _) => pqLloydStep(train, cb))
  }

  /** Corpus codes under the SEED codebook `(vec_id, label, m, code)`,
    * zone-backed: [[knnIvfPq]]'s encode and [[knnPqRecall]]'s seeded leg
    * run the identical nearest-seed assignment over the whole corpus
    * (exact integer milli-unit math — the parquet round trip is exact).
    * `label` rides along for the IVF router; code-only consumers drop it. */
  private def pqSeedCodes(spark: SparkSession, dir: String): DataFrame =
    pqSeedCodesZone.get(spark, dir) {
      val sub = pqSubLabeled(spark, dir)
      val cb = pqSeed(sub.drop("label"))
      sub.join(broadcast(cb), "m")
        .select(col("vec_id"), col("label"), col("m"),
          (pqD2 * PqCodes + col("code")).as("ec"))
        .groupBy("vec_id", "label", "m")
        .agg(min(col("ec")).as("ec"))
        .select(col("vec_id"), col("label"), col("m"),
          (col("ec") % PqCodes).cast("int").as("code"))
    }

  /** [[pqSub]] plus the `label` column (the IVF router's list key). */
  private def pqSubLabeled(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), e => round(e.cast("double") * 1000).cast("long")).as("qv"))
    val ms = spark.range(PqM).select(col("id").cast("int").as("m"))
    base.crossJoin(broadcast(ms))
      .select(col("vec_id"), col("label"), col("m"),
        slice(col("qv"), col("m") * PqSub + 1, lit(PqSub)).as("sv"))
  }

  /** ADC top-k for a given codebook: encode the corpus, build per-query
    * distance tables, sum over stored codes, bounded-heap top-k. */
  private def pqAdcTopK(sub: DataFrame, cb: DataFrame): DataFrame =
    pqAdcTopKFromCodes(pqEncode(sub, cb), sub, cb)

  /** [[pqAdcTopK]] body over an EXPLICIT code frame — lets a consumer
    * serve the corpus encode from a published zone; `subQ` only needs the
    * query rows (`vec_id < NQueries`). */
  private def pqAdcTopKFromCodes(codes: DataFrame, subQ: DataFrame,
                                 cb: DataFrame): DataFrame = {
    // ADC distance table: exact query subvector vs every codebook entry
    val dtab = subQ.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sv"))
      .join(broadcast(cb), "m")
      .select(col("q_id"), col("m"), col("code"), pqD2.as("qd2"))
    val scored = codes.join(broadcast(dtab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("qd2")).as("adc_d2"))
    // bounded-heap top-k on NEGATED distance (heap keeps score DESC);
    // integer distances < 2^53 stay exact through the double
    scored.groupBy("q_id")
      .agg(graft.functions.GraftFunctions
        .topk(struct((-col("adc_d2")).cast("double"), col("vec_id")), K).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("n_id"), (-col("t.score")).cast("long").as("adc_d2"))
      .orderBy("q_id", "rank")
  }

  /** #68 knn_pq: product-quantization ANN — encode every vector as
    * [[PqM]] 4-bit codes (nearest TRAINED-codebook centroid per subspace,
    * squared L2), then answer queries with an ADC (asymmetric distance
    * computation) scan: per-query distance TABLE against the codebook,
    * summed over the stored codes. This is the memory-bound 100 TB ANN
    * design — the corpus is scanned as 8-byte codes (64 B/vec → 8 B/vec),
    * never as floats.
    *
    * Scale shape: the codebook (128 rows) and the per-query distance
    * table (queries × 128) both BROADCAST; training aggregates only the
    * 20% sample (map-side partial sums); encoding is one map-side pass
    * over the corpus; the ADC sum is a map-side partial aggregation
    * keyed (q_id, vec_id); top-k via the bounded-heap aggregate. All
    * distances are exact integer milli-unit math, so the oracle hashes
    * the ADC values themselves. ([[knnIvfPq]] deliberately keeps the
    * untrained seed codebook — the composite's subject is the routing;
    * the codebook choice is orthogonal and benchmarked here.)
    */
  /** Trained-codebook ADC top-k, zone-backed: the full encode + ADC pass
    * is shared by [[knnPq]] and [[knnPqRecall]]'s trained leg (each used
    * to run its own). The artifact is NQueries·K rows of exact integers. */
  private def pqTrainedTop(spark: SparkSession, dir: String): DataFrame =
    pqTopZone.get(spark, dir) {
      // build-scoped cuts (the zone publishes the result): the subvector
      // frame has four consumers (training, encode, distance tables) and
      // the trained codebook two (encode, distance tables) — materialize
      // each once; blocks are ContextCleaner-reaped
      val sub = pqSub(spark, dir).localCheckpoint()
      pqAdcTopK(sub, pqTrained(sub).localCheckpoint())
    }

  def knnPq(spark: SparkSession, dir: String): DataFrame =
    pqTrainedTop(spark, dir).orderBy("q_id", "rank")

  /** #101 knn_pq_recall: recall@k of the TRAINED-codebook PQ index
    * against the exact brute-force baseline, reported beside the
    * untrained (seed-codebook) index — the evaluation that justifies the
    * training step: same ADC pipeline, only the codebook differs.
    *
    * Measured at sf0.1: training cuts corpus quantization SSE 21%
    * (1.55e9 → 1.23e9 milli-unit²; Lloyd's guaranteed direction) and
    * moves recall@5 0.16 → 0.18 — with 16 codes/subspace the recall
    * metric over 10 queries is intentionally coarse (it is the
    * evaluation harness, not a tuned index; production raises
    * [[PqCodes]]/[[PqIters]], which only changes constants here).
    */
  def knnPqRecall(spark: SparkSession, dir: String): DataFrame = {
    // the corpus-wide subvector frame is no longer needed here: the
    // trained top-k and the seeded corpus codes are zone-served, so only
    // the seed/query rows (vec_id < 16) are derived in-plan
    val subSmall = pqSub(spark, dir)
      .filter(col("vec_id") < math.max(PqCodes, NQueries))
    // two consumers, but the exact baseline is now a zone read
    // (materialized parquet) — no checkpoint needed
    val exact = knnBrute(spark, dir).select(col("q_id"), col("n_id"))
    def recallOf(top: DataFrame, name: String): DataFrame = {
      val hits = exact.join(top.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as(s"n_hits_$name"))
      exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col(s"n_hits_$name"), lit(0L)).as(s"n_hits_$name"),
          round(coalesce(col(s"n_hits_$name"), lit(0L)) / col("n_exact"), 6)
            .as(s"recall_$name"))
    }
    recallOf(pqTrainedTop(spark, dir), "trained")
      .join(recallOf(pqAdcTopKFromCodes(
          pqSeedCodes(spark, dir).select(col("vec_id"), col("m"), col("code")),
          subSmall, pqSeed(subSmall)), "seeded"), Seq("q_id"))
      .orderBy("q_id")
  }

  private def pqD2Sql(a: String, b: String) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range($PqSub), k -> ($a[k+1] - $b[k+1]) * ($a[k+1] - $b[k+1]))), " +
      s"(acc, x) -> acc + x)"

  /** Shared oracle CTE chain `q, sub, cb0, train, …, cb{PqIters}` — the
    * integer subvectors, seed codebook and the unrolled Lloyd steps
    * (assign = the same long-encoded argmin the engine uses; update =
    * element-wise `sum // count`, both truncating toward zero). */
  private def pqTrainSqlCtes: String = {
    val lloyd = (1 to PqIters).map { i =>
      val prev = s"cb${i - 1}"
      s"""enc$i AS (
        |  SELECT vec_id, m,
        |         CAST(min(${pqD2Sql("t.sv", "c.cs")} * $PqCodes + code) % $PqCodes AS INT) AS code
        |  FROM train t JOIN $prev c USING (m) GROUP BY vec_id, m),
        |upd$i AS (
        |  SELECT e.m, e.code,
        |         [${(1 to PqSub).map(k => s"CAST(sum(t.sv[$k])//count(*) AS BIGINT)").mkString(", ")}] AS ncs
        |  FROM enc$i e JOIN train t ON e.vec_id = t.vec_id AND e.m = t.m
        |  GROUP BY e.m, e.code),
        |cb$i AS (
        |  SELECT c.m, c.code, COALESCE(u.ncs, c.cs) AS cs
        |  FROM $prev c LEFT JOIN upd$i u ON c.m = u.m AND c.code = u.code)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT) FOR e IN embedding] AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, m, list_slice(qv, m*$PqSub+1, m*$PqSub+$PqSub) AS sv
      |  FROM q, (SELECT CAST(unnest(range($PqM)) AS INT) AS m)),
      |cb0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cs
      |        FROM sub WHERE vec_id < $PqCodes),
      |train AS (SELECT * FROM sub WHERE vec_id % $PqTrainMod = 0),
      |$lloyd""".stripMargin
  }

  /** ADC pipeline CTEs (`encF/dtab/scored/ranked` + suffix) over a named
    * codebook CTE — the same long-encoded argmin encode as the engine. */
  private def pqAdcSqlCtes(cb: String, sfx: String): String =
    s"""encF$sfx AS (
      |  SELECT vec_id, m,
      |         CAST(min(${pqD2Sql("s.sv", "c.cs")} * $PqCodes + code) % $PqCodes AS INT) AS code
      |  FROM sub s JOIN $cb c USING (m) GROUP BY vec_id, m),
      |dtab$sfx AS (
      |  SELECT s.vec_id AS q_id, m, code, ${pqD2Sql("s.sv", "c.cs")} AS qd2
      |  FROM sub s JOIN $cb c USING (m)
      |  WHERE s.vec_id < $NQueries),
      |scored$sfx AS (
      |  SELECT q_id, vec_id, CAST(sum(qd2) AS BIGINT) AS adc_d2
      |  FROM encF$sfx JOIN dtab$sfx USING (m, code)
      |  WHERE vec_id <> q_id
      |  GROUP BY q_id, vec_id),
      |ranked$sfx AS (
      |  SELECT q_id, vec_id, adc_d2,
      |         row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank
      |  FROM scored$sfx)""".stripMargin

  val knnPqSql: String =
    s"""WITH ${pqTrainSqlCtes},
      |${pqAdcSqlCtes(s"cb$PqIters", "")}
      |SELECT q_id, rank, vec_id AS n_id, adc_d2 FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin

  val knnPqRecallSql: String =
    s"""WITH $normedSql,
      |bscored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, round($cosABSql, 6) AS cosine
      |  FROM normed q JOIN normed c ON q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
      |btop AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS r
      |    FROM bscored) t WHERE r <= $K),
      |${pqTrainSqlCtes},
      |${pqAdcSqlCtes(s"cb$PqIters", "_t")},
      |${pqAdcSqlCtes("cb0", "_s")},
      |top_t AS (SELECT q_id, vec_id AS n_id FROM ranked_t WHERE rank <= $K),
      |top_s AS (SELECT q_id, vec_id AS n_id FROM ranked_s WHERE rank <= $K),
      |hits_t AS (SELECT b.q_id, count(*) AS n FROM btop b
      |           JOIN top_t l ON b.q_id = l.q_id AND b.n_id = l.n_id GROUP BY 1),
      |hits_s AS (SELECT b.q_id, count(*) AS n FROM btop b
      |           JOIN top_s l ON b.q_id = l.q_id AND b.n_id = l.n_id GROUP BY 1),
      |exact AS (SELECT q_id, count(*) AS n_exact FROM btop GROUP BY 1)
      |SELECT e.q_id,
      |       COALESCE(ht.n, 0) AS n_hits_trained,
      |       round(COALESCE(ht.n, 0) / e.n_exact, 6) AS recall_trained,
      |       COALESCE(hs.n, 0) AS n_hits_seeded,
      |       round(COALESCE(hs.n, 0) / e.n_exact, 6) AS recall_seeded
      |FROM exact e
      |LEFT JOIN hits_t ht ON e.q_id = ht.q_id
      |LEFT JOIN hits_s hs ON e.q_id = hs.q_id
      |ORDER BY e.q_id""".stripMargin

  // -------------------------------------------------- #72 IVF+PQ composite
  /** knn_ivf_pq: the full production ANN composite — IVF routing
    * ([[centroidIvf]]'s coarse quantizer picks 2 of the per-label lists
    * per query) feeding a PQ/ADC scan ([[knnPq]]'s integer distance
    * tables) over ONLY the probed lists. At 100 TB this is the index that
    * actually runs: route on ~√N broadcast centroids, then scan 8-byte
    * codes for the probed partitions — cost ∝ probed fraction, memory ∝
    * codes, and both stages are broadcast joins + map-side partial sums.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    // --- IVF routing in float space (the shared zone centroidIvf reads) ---
    val nb = normed(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val fq = nb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("ed"), col("nrm"))
    val qc = cents.as("c").crossJoin(broadcast(fq.as("q")))
      .select(col("q.q_id").as("q_id"), col("c.label").as("plabel"),
        round(cosAB, 6).as("ccos"))
    val wc = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("plabel"))
    val probes = qc.withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= 2).select(col("q_id"), col("plabel"))
    // --- ADC over the probed lists: corpus codes come from the shared
    // seed-codes zone (knn_pq_recall's seeded leg reads the same encode);
    // only the seed/query subvector rows are derived in-plan ---
    val sub = pqSubLabeled(spark, dir)
      .filter(col("vec_id") < math.max(PqCodes, NQueries))
    val codebook = pqSeed(sub.drop("label"))
    val codes = pqSeedCodes(spark, dir)
    val dtab = sub.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sv"))
      .join(broadcast(codebook), "m")
      .select(col("q_id"), col("m"), col("code"), pqD2.as("qd2"))
    val scored = codes
      .join(broadcast(probes), codes("label") === probes("plabel"))
      .join(broadcast(dtab), Seq("q_id", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("qd2")).as("adc_d2"))
    scored.groupBy("q_id")
      .agg(graft.functions.GraftFunctions
        .topk(struct((-col("adc_d2")).cast("double"), col("vec_id")), K).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("n_id"), (-col("t.score")).cast("long").as("adc_d2"))
      .orderBy("q_id", "rank")
  }

  val knnIvfPqSql: String = {
    def d2(a: String, b: String) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range($PqSub), k -> ($a[k+1] - $b[k+1]) * ($a[k+1] - $b[k+1]))), " +
        s"(acc, x) -> acc + x)"
    val centDot = seqSumSql(s"list_transform(range(64), k -> " +
      s"CAST(q.emb[k+1] AS DOUBLE) * c.ed[k+1])")
    s"""WITH $normedSql,
      |cent_long AS (
      |  SELECT label, i, round(avg(CAST(emb[i+1] AS DOUBLE)), 3) AS c
      |  FROM normed CROSS JOIN (SELECT unnest(range(64)) AS i) ii
      |  GROUP BY label, i),
      |cents AS (
      |  SELECT label, list(c ORDER BY i) AS ed,
      |         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list(c * c ORDER BY i)), (acc, x) -> acc + x)) AS nrm
      |  FROM cent_long GROUP BY label),
      |queries AS (SELECT vec_id AS q_id, emb, nrm FROM normed WHERE vec_id < $NQueries),
      |qc AS (
      |  SELECT q.q_id, c.label AS plabel, round($centDot / (q.nrm * c.nrm), 6) AS ccos
      |  FROM cents c CROSS JOIN queries q),
      |probes AS (
      |  SELECT q_id, plabel FROM (
      |    SELECT q_id, plabel,
      |           row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, plabel) AS crank
      |    FROM qc) t WHERE crank <= 2),
      |qz AS (
      |  SELECT vec_id, label,
      |         [CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT) FOR e IN embedding] AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT vec_id, label, m, list_slice(qv, m*$PqSub+1, m*$PqSub+$PqSub) AS sv
      |  FROM qz, (SELECT CAST(unnest(range($PqM)) AS INT) AS m)),
      |cb AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cs
      |       FROM sub WHERE vec_id < $PqCodes),
      |enc AS (
      |  SELECT vec_id, label, m, code,
      |         row_number() OVER (PARTITION BY vec_id, m
      |                            ORDER BY ${d2("s.sv", "c.cs")}, code) AS rn
      |  FROM sub s JOIN cb c USING (m)),
      |codes AS (SELECT vec_id, label, m, code FROM enc WHERE rn = 1),
      |dtab AS (
      |  SELECT s.vec_id AS q_id, m, code, ${d2("s.sv", "c.cs")} AS qd2
      |  FROM sub s JOIN cb c USING (m)
      |  WHERE s.vec_id < $NQueries),
      |scored AS (
      |  SELECT d.q_id, cd.vec_id, CAST(sum(d.qd2) AS BIGINT) AS adc_d2
      |  FROM codes cd
      |  JOIN probes p ON cd.label = p.plabel
      |  JOIN dtab d ON d.q_id = p.q_id AND d.m = cd.m AND d.code = cd.code
      |  WHERE cd.vec_id <> d.q_id
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT q_id, vec_id, adc_d2,
      |         row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rank
      |  FROM scored)
      |SELECT q_id, rank, vec_id AS n_id, adc_d2 FROM ranked WHERE rank <= $K
      |ORDER BY q_id, rank""".stripMargin
  }

  private val KmeansK = 8

  /** #58 kmeans_iter: one Lloyd iteration of k-means over the embedding
    * corpus — the building block of IVF index training and embedding-space
    * clustering for corpus curation. Assign every vector to its nearest
    * centroid (squared L2), then recompute the centroid means.
    *
    * Vectors are quantized to integer milli-units (`round(x*1000)`) so the
    * assignment distances and the per-dimension sums are EXACT 64-bit
    * integer math — bit-identical in Spark and DuckDB (a float k-means
    * would diverge between engines on accumulation order). Quantized
    * Lloyd is itself a standard trick (product-quantization training does
    * coarser). Shape at scale: centroids broadcast (k rows), assignment is
    * one map-side pass + argmin via a struct-min aggregate (no window over
    * the corpus), recompute is one groupBy(k groups) with map-side partial
    * sums.
    */
  def kmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), e => round(e.cast("double") * 1000).cast("long")).as("qv"))
    val cents = base.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cid"), col("qv").as("cq"))
    val d2 = graft.functions.GraftFunctions.l2sq(col("qv"), col("cq"))
    // argmin(cid by d2), LONG-ENCODED (d2·K + cid, cid < K, d2 ≥ 0): same
    // deterministic smaller-cid tie-break as min(struct(d2, cid)), but a
    // primitive min(long) HashAggregate instead of the SortAggregate the
    // struct buffer forces (pqEncode's documented fix, applied round 15).
    // No overflow: d2 ≤ 64·(2·10³·max|e|)² milli-unit² ≪ 2⁶³/K.
    val assigned = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), (d2 * KmeansK + col("cid")).as("ec"))
      .groupBy("vec_id")
      .agg(min(col("ec")).as("ec"))
      .select(col("vec_id"), (col("ec") % KmeansK).as("cluster_id"))
    val dims = (0 until 4).map(d =>
      (sum(element_at(col("qv"), d + 1)) / count(lit(1))).as(s"c$d"))
    assigned.join(base, "vec_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), dims: _*)
      .orderBy("cluster_id")
  }

  val kmeansIterSql: String = {
    val d2 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(64), k -> (q.qv[k+1] - c.cq[k+1]) * (q.qv[k+1] - c.cq[k+1]))), " +
      "(acc, x) -> acc + x)"
    s"""WITH q AS (
      |  SELECT vec_id,
      |         [CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT) FOR e IN embedding] AS qv
      |  FROM embeddings),
      |cents AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < $KmeansK),
      |d AS (SELECT q.vec_id, q.qv, c.cid, $d2 AS d2 FROM q CROSS JOIN cents c),
      |a AS (SELECT vec_id, qv, cid,
      |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |      FROM d)
      |SELECT cid AS cluster_id, count(*) AS n_members,
      |       CAST(sum(qv[1]) AS BIGINT) / count(*) AS c0,
      |       CAST(sum(qv[2]) AS BIGINT) / count(*) AS c1,
      |       CAST(sum(qv[3]) AS BIGINT) / count(*) AS c2,
      |       CAST(sum(qv[4]) AS BIGINT) / count(*) AS c3
      |FROM a WHERE rn = 1
      |GROUP BY cid ORDER BY cluster_id""".stripMargin
  }
}
