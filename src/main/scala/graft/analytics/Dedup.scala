package graft.analytics

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-deduplication suite for training-data curation (SURVEY §2.3).
  *
  * All pipelines are shuffle-lean: per-doc signatures (shingles, MinHash,
  * SimHash, hyperplane buckets) are computed map-side inside one
  * whole-stage-codegen projection — no explode before the signature, no
  * UDFs — and only the (few) signature keys per doc are shuffled to form
  * candidate pairs. Pair generation is always a key-equality join (never a
  * cross join or a driver-side loop), so each pipeline scales linearly in
  * corpus size + candidate count.
  *
  * Determinism: all signatures use [[graft.functions.Portable]] integer
  * hashes, so the DuckDB oracle reproduces them bit-for-bit and even the
  * "approximate" pipelines get exact-hash gating.
  */
object Dedup {

  /** Documents with their distinct word-3-gram shingle sets (native
    * [[graft.functions.NGrams]] — same output as [[shingles3]], one
    * compiled pass instead of interpreted lambda folds). */
  private def shingled(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.GraftFunctions
        .ngrams(split(col("text"), " "), 3, distinct = true).as("sh"))
  }

  private val shingledSql =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |shingled AS (SELECT doc_id, ${shingles3Sql("t")} AS sh FROM toks)""".stripMargin

  // ------------------------------------------------------------ #19 exact
  /** Exact dedup over a corpus with genuine duplicates: the documents table
    * unioned with a simulated re-crawl of itself (ids offset by 1e6).
    * Grouping key is `md5(text)` — hashing, not raw-text comparison, is
    * what survives 100 TB (the shuffle carries 16-byte keys, not docs).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    corpus
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper_id"),
        max(col("doc_id")).as("dup_id"))
      .filter(col("n_copies") > 1)
      .orderBy("content_hash")
  }

  val dedupExactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |SELECT md5(text) AS content_hash, count(*) AS n_copies,
      |       min(doc_id) AS keeper_id, max(doc_id) AS dup_id
      |FROM corpus GROUP BY 1 HAVING count(*) > 1
      |ORDER BY content_hash""".stripMargin

  // ------------------------------------------- #55 normalized exact dedup
  /** Exact dedup AFTER text normalization (lowercase, strip punctuation,
    * collapse whitespace): catches trivially-reformatted copies that
    * byte-exact hashing misses without paying for near-dup machinery —
    * the standard normalize-then-hash stage. Corpus: documents unioned
    * with a reformatted re-crawl of itself (uppercased, extra whitespace
    * and punctuation; ids offset by 1e6), so every original pairs with
    * its reformatted twin.
    */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("text")), lit("  !!")).as("text")))
    // Native single-pass kernel, byte-equal to
    // trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))
    // (the oracle's form) — see [[graft.functions.Sig.normalizeText]].
    val normalized = graft.functions.GraftFunctions.normalize(col("text"))
    corpus
      .groupBy(md5(normalized).as("norm_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("keeper_id"),
        max(col("doc_id")).as("dup_id"))
      .filter(col("n_copies") > 1)
      .orderBy("norm_hash")
  }

  val dedupNormalizedSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, upper(text) || '  !!' FROM documents),
      |norm AS (
      |  SELECT doc_id,
      |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |                             ' +', ' ', 'g')) AS ntext
      |  FROM corpus)
      |SELECT md5(ntext) AS norm_hash, count(*) AS n_copies,
      |       min(doc_id) AS keeper_id, max(doc_id) AS dup_id
      |FROM norm GROUP BY 1 HAVING count(*) > 1
      |ORDER BY norm_hash""".stripMargin

  // ------------------------------------------------------ #20 fingerprint
  /** Canonical-token-set fingerprint dedup: docs whose *sorted distinct
    * token sets* coincide are duplicates even when word order differs.
    */
  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
          .as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keeper_id"),
        max(col("doc_id")).as("max_dup_id"))
      .filter(col("n_docs") > 1)
      .orderBy("fingerprint")

  val dedupFingerprintSql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      |       count(*) AS n_docs, min(doc_id) AS keeper_id, max(doc_id) AS max_dup_id
      |FROM documents GROUP BY 1 HAVING count(*) > 1
      |ORDER BY fingerprint""".stripMargin

  // ------------------------------------------------- #65 corpus overlap
  /** Cross-source overlap audit: for every pair of sources, how many
    * canonical-token-set fingerprints they share — the "which crawls
    * duplicate each other" matrix run before deciding what to keep from a
    * new data source.
    *
    * Scale shape: fingerprints are distinct-ed per source first (so each
    * posting list is bounded by the number of *sources* sharing the
    * fingerprint, not copies), then the self-join is an equality join on
    * the 16-byte hash and the pair counts aggregate map-side.
    */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("source"),
        md5(concat_ws(" ", sort_array(array_distinct(split(col("text"), " ")))))
          .as("fp"))
      .distinct()
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  val corpusOverlapSql: String =
    """WITH fp AS (
      |  SELECT DISTINCT source,
      |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
      |  FROM documents)
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY 1, 2
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------- #21 n-gram jaccard
  /** Shingles with document frequency above this cap are treated as corpus
    * boilerplate and dropped before the inverted-index self-join. Without
    * the cap one ultra-frequent shingle (a boilerplate trigram) makes its
    * posting list quadratic in the self-join — the classic Σ df² skew
    * failure at 100 TB. The cap is part of the operator's semantics
    * (Jaccard over non-boilerplate shingles) and is mirrored exactly in
    * the oracle SQL.
    */
  val ShingleDfCap = 100

  /** Shingle-Jaccard near-dup pairs (threshold 0.5) via the inverted-index
    * join: explode shingles, drop shingles with document frequency above
    * [[ShingleDfCap]], self-join on shingle, count shared per pair. Exact
    * over the capped shingle sets (any surviving pair shares a sub-cap
    * shingle) and skew-bounded — per-shingle work is ≤ cap².
    */
  /** Persisted once per DATASET ([[graft.ops.DerivedZone]]): the pair
    * intersection counts `(a_id, b_id, shared, na, nb)` that both
    * shingle-overlap measures score — jaccard and containment are just
    * different final filters over the same Σdf²-bounded self-join. The
    * first session to need it publishes the near-dup pair table as
    * parquet keyed by the documents table's fingerprint; every later
    * session (fresh JVMs included) serves the published files with zero
    * rebuild jobs — this build was the single largest first-run cost at
    * the 100× scale point (73–224 s measured).
    *
    * Deliberately NOT persisted: the shingle sets themselves. They are
    * corpus-sized (every doc's shingle array); each build materializes
    * its own short-lived shingle checkpoint (ContextCleaner-reaped when
    * the build returns) and only the small derived artifact is published.
    */
  private[graft] val sharedMemo =
    new graft.ops.DerivedZone("dedup_shared_counts", Seq("documents.parquet"))

  /** Packing radix for the `(doc_id, n)` → one-long posting encoding:
    * `dn = doc_id · 2²⁰ + n`. The build VERIFIES per dataset (one
    * driver-side aggregate over the size frame) that every doc's capped
    * shingle-set size is < 2²⁰ (a doc would need ~megatokens of text to
    * break that) and that `0 ≤ doc_id < 2⁶³/2²⁰ ≈ 8.8·10¹²` — ids or
    * sizes outside the bounds fall back to the unpacked shape. Ordering
    * is preserved: `a.doc_id < b.doc_id ⇔ a.dn < b.dn` (doc_id owns the
    * high bits; equal doc ids never pair). */
  private val DnRadix = 1L << 20

  private def sharedCounts(spark: SparkSession, dir: String): DataFrame =
    sharedMemo.get(spark, dir) {
      // Build shape, round 16 (guide §1.2/§2.3/§2.4; stage decomposition
      // measured at ×1000, committed as bench_r16_build_probes.txt — see
      // OPTIMIZATION_r16.md). The round-15 shape spent ~2/3 of the build
      // BEFORE pair generation: the df-cap stage shingled the corpus
      // TWICE (once under the df aggregate, once under the join's probe
      // side) and exchanged the shingle stream twice (202.7 s of the
      // 305 s isolated build), and the size-attach stage round-tripped
      // the capped postings through a doc_id exchange plus a repartition
      // back to the shingle key (89.4 s). Three changes:
      //  - ONE shingling pass and ONE corpus exchange: the raw posting
      //    stream is hash-clustered by shingle once and persisted; the
      //    df count, the cap filter (a zero-exchange in-partition
      //    shuffled-hash join against the ≤1-row-per-shingle rare frame)
      //    and the per-shingle posting lists all run inside that
      //    partitioning.
      //  - The width is derived from the documents table's ON-DISK bytes
      //    (driver-side metadata walk, no counting job): measured at
      //    ×1000, 853 MB of compressed documents → 260.4M capped
      //    postings, i.e. ~4 MiB per 1M postings — the same ~1M-postings
      //    -per-partition rule the old nPost-counted sizing enforced,
      //    now known before the first job. Still data-proportional,
      //    still capped at 2048, still floored at the session width.
      //  - (na, nb) ride the pair exchange PACKED: one long per side
      //    (`doc_id·2²⁰ + n`, see DnRadix) instead of two — 24-byte pair
      //    rows instead of 40 — whenever 0 ≤ doc_id < Long.MaxValue/2²⁰
      //    and every capped size n < 2²⁰ (verified per build; the
      //    unpacked shape remains the fallback). The
      //    shard-pass sizing uses the packed bytes/pair constant, so the
      //    same scratch budget needs 3 passes instead of 4 at ×1000
      //    (each pass re-probes the full posting list — fewer passes is
      //    CPU saved, not just disk).
      // Only pairs that can pass EITHER downstream filter materialize:
      // containment ≥ jaccard always, so containment ≥ 0.5 is a superset
      // of jaccard ≥ 0.5 and containment ≥ 0.8. The filtered near-dup
      // table is the small artifact the zone publishes.
      val docBytes = graft.ops.DerivedZone.dataBytes(spark,
        Seq(s"$dir/documents.parquet"))
      val parts = math.max(spark.sessionState.conf.numShufflePartitions,
        math.min(2048, (docBytes / (4L << 20)).toInt + 1))
      val exS = shingled(spark, dir)
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .repartition(parts, col("s"))
        .persist()
      val rare = exS.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ShingleDfCap)
        .select("s")
      // both sides inherit the s-partitioning, so this join plans with
      // ZERO exchanges; the SHUFFLE_HASH hint builds the 1-row-per-
      // shingle rare side per partition instead of sort-merge-sorting
      // the full posting stream
      val exC = exS.join(rare.hint("SHUFFLE_HASH"), "s")
        .select("doc_id", "s").persist()
      val sizes = exC.groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
      // one driver-side stats job on the (persisted, ≤|docs|-row) size
      // frame: materializes exS → exC → sizes in a single pass so the raw
      // stream can be dropped, and bounds the id/size domain for the
      // packed encoding
      val stats = sizes.agg(min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"), max(col("n")).as("mx")).first()
      exS.unpersist()
      val packed = stats.isNullAt(0) ||
        (stats.getLong(0) >= 0L && stats.getLong(2) < DnRadix &&
          stats.getLong(1) < Long.MaxValue / DnRadix)
      val scratchBudget = graft.GraftConfig.scratchBytes(spark)
      val passes =
        if (scratchBudget <= 0L) 1
        else {
          // sum() over zero rows is NULL: a corpus whose shingles are all
          // above the df cap (or an empty corpus) must size as 0 pairs,
          // not NPE (connectedComponents guards the same pattern).
          // Zero-exchange: exC is s-partitioned, so the per-shingle count
          // aggregates in place.
          val pairCnt = exC.groupBy("s").agg(count(lit(1)).as("c"))
            .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
              .cast("long")).first().getLong(0)
          graft.ops.Tuning.pairShardPasses(pairCnt, scratchBudget,
            bytesPerPair = if (packed) graft.ops.Tuning.PackedPairScratchBytesPerPair
            else graft.ops.Tuning.PairScratchBytesPerPair)
        }
      // cached (columnar) rather than re-exchanged: every pass's join
      // reads it partition-local — the s-clustering from the repartition
      // survives the cache, so no pass pays a posting-list shuffle. The
      // doc_id join for the size attach is the one remaining extra
      // exchange: broadcasting sizes instead would be ∝ corpus doc count
      // (fails at 100 TB), so the slim (doc_id, n) round trip stays.
      val posts =
        (if (packed) exC.join(sizes, "doc_id")
          .select((col("doc_id") * DnRadix + col("n")).as("dn"), col("s"))
        else exC.join(sizes, "doc_id"))
          .repartition(parts, col("s")).persist()
      val passResults = (0 until passes).map { k =>
        val slice =
          if (packed) pmod(hash(expr(s"dn div $DnRadix")), lit(passes))
          else pmod(hash(col("doc_id")), lit(passes))
        val aSide = if (passes == 1) posts else posts.filter(slice === k)
        // SHUFFLE_HASH on the sliced build side: a sort-merge join here
        // sorts the 260M-row posting list — sort spill the disk pays on
        // top of the pair shuffle; the hash build is ~1M rows per task.
        // PAIR-SPACE SHARDING (round 11): pass k joins only the a-side
        // docs with hash % passes == k against the full posting list, so
        // every pair (keyed by its SMALLER id, the a-side) lands in
        // exactly one pass, per-pass aggregates are complete, the ≥0.5
        // containment filter applies per pass, and each pass's shuffle
        // files are ContextCleaner-reaped before the next starts — disk
        // high-water ∝ pairs/passes. The pass count is a RESOURCE
        // decision (`spark.graft.scratch.bytes` via GraftConfig/env); no
        // budget (the default) is the cluster case and runs ONE pass.
        val passPairs = (if (packed)
          aSide.as("a").hint("SHUFFLE_HASH")
            .join(posts.as("b"),
              col("a.s") === col("b.s") && col("a.dn") < col("b.dn"))
            .select(col("a.dn").as("adn"), col("b.dn").as("bdn"))
            .repartition(parts, col("adn"), col("bdn"))
            .groupBy("adn", "bdn")
            .agg(count(lit(1)).as("shared"))
            .select(expr(s"adn div $DnRadix").as("a_id"),
              expr(s"bdn div $DnRadix").as("b_id"), col("shared"),
              expr(s"adn % $DnRadix").as("na"), expr(s"bdn % $DnRadix").as("nb"))
        else
          aSide.as("a").hint("SHUFFLE_HASH")
            .join(posts.as("b"),
              col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
              col("a.n").as("na"), col("b.n").as("nb"))
            .repartition(parts, col("a_id"), col("b_id"))
            .groupBy("a_id", "b_id", "na", "nb")
            .agg(count(lit(1)).as("shared")))
          .filter(col("shared") / least(col("na"), col("nb")) >= 0.5)
          .select("a_id", "b_id", "shared", "na", "nb")
          .localCheckpoint() // small filtered table; ends the pass's lineage
        if (k < passes - 1) {
          // drop the finished pass's shuffle files before the NEXT pass
          // allocates its own (the Bench inter-query hygiene, applied
          // intra-build): gc enqueues the cleanup, the brief poll lets
          // the async ContextCleaner actually delete. Only BETWEEN
          // passes — after the final pass there is nothing to make room
          // for, and the single-pass (cluster) shape never pays it.
          System.gc()
          Thread.sleep(500)
        }
        passPairs
      }
      val pairs = passResults.reduce(_.unionByName(_))
      posts.unpersist()
      sizes.unpersist()
      exC.unpersist()
      pairs
    }

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val jac = col("shared") / (col("na") + col("nb") - col("shared"))
    sharedCounts(spark, dir)
      .filter(jac >= 0.5)
      .select(col("a_id"), col("b_id"), round(jac, 6).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $shingledSql,
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
      |rare AS (
      |  SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s) t
      |  WHERE df <= $ShingleDfCap),
      |exc AS (SELECT doc_id, ex.s AS s FROM ex JOIN rare ON ex.s = rare.s),
      |shared AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      |  FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id)
      |SELECT a_id, b_id, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
      |FROM shared
      |JOIN sizes sa ON a_id = sa.doc_id
      |JOIN sizes sb ON b_id = sb.doc_id
      |WHERE shared / (sa.n + sb.n - shared) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------- #38 containment dup
  /** Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.8 over
    * the df-capped shingle sets. Containment catches the asymmetric case
    * Jaccard misses — a short document embedded inside a much longer one
    * (quote inclusion, boilerplate wrapping, page concatenation) has low
    * Jaccard but containment ≈ 1. Same inverted-index join shape (and the
    * same [[ShingleDfCap]] skew bound) as [[dedupNgramJaccard]].
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val cont = col("shared") / least(col("na"), col("nb"))
    sharedCounts(spark, dir)
      .filter(cont >= 0.8)
      .select(col("a_id"), col("b_id"), round(cont, 6).as("containment"))
      .orderBy("a_id", "b_id")
  }

  val dedupContainmentSql: String =
    s"""WITH $shingledSql,
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
      |rare AS (
      |  SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s) t
      |  WHERE df <= $ShingleDfCap),
      |exc AS (SELECT doc_id, ex.s AS s FROM ex JOIN rare ON ex.s = rare.s),
      |shared AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      |  FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id)
      |SELECT a_id, b_id, round(shared / least(sa.n, sb.n), 6) AS containment
      |FROM shared
      |JOIN sizes sa ON a_id = sa.doc_id
      |JOIN sizes sb ON b_id = sb.doc_id
      |WHERE shared / least(sa.n, sb.n) >= 0.8
      |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------- #22 minhash + LSH
  /** MinHash(32) signatures folded map-side (no explode), banded 8×4 for
    * LSH candidate generation, candidates confirmed with exact Jaccard.
    * Only 8 (band, key) rows per doc are shuffled — at 100 TB that is the
    * whole trick: signature cost is linear scan work, candidate cost is
    * proportional to true collisions.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    confirmedPairs(spark, dir).orderBy("a_id", "b_id")

  /** MinHash-confirmed near-dup pair list `(a_id, b_id, jaccard)`
    * (unordered), shared by the whole cluster family —
    * [[dedupMinhashLsh]], [[dedupClusters]], [[dedupClusterSizes]],
    * [[dedupKeepBest]], each of which would otherwise re-run the
    * signature + banding + confirm pipeline from scratch. Published once
    * per dataset ([[graft.ops.DerivedZone]], a few rows per duplicate
    * pair — trivially small next to the corpus), revalidated against the
    * documents table's on-disk fingerprint so path changes AND in-place
    * rewrites both rebuild instead of serving stale pairs.
    */
  private[graft] val pairsMemo =
    new graft.ops.DerivedZone("dedup_minhash_pairs", Seq("documents.parquet"))

  /** Drop every zone's in-memory entries (confirmed pairs, cluster
    * labels, shingle intersection counts, LSH candidates); the next
    * access serves the published files. Staleness is handled
    * automatically — each access revalidates against the input table's
    * on-disk fingerprint — so this is only the eviction hatch for
    * long-lived multi-session processes (the maps hold strong references
    * to their sessions' frames until cleared).
    */
  def clearMemos(): Unit = {
    pairsMemo.clear(); labelsMemo.clear(); sharedMemo.clear()
    simhashMemo.clear(); semanticLabelsMemo.clear(); lshCandZone.clear()
  }

  /** SimHash near-dup pairs, persisted once per DATASET like the MinHash
    * pair list ([[pairsMemo]]): the signature pass + chunk-banded self-join
    * is the dominant cost and its output is a few rows per duplicate pair.
    */
  private[graft] val simhashMemo =
    new graft.ops.DerivedZone("dedup_simhash_pairs", Seq("documents.parquet"))

  private[analytics] def confirmedPairs(spark: SparkSession, dir: String): DataFrame =
    pairsMemo.get(spark, dir)(minhashConfirm(spark, dir))

  /** The LSH CANDIDATE stage of the MinHash pipeline — signatures, 8×4
    * banding, and the band-key equality self-join — factored out so the
    * banding's recall can be MEASURED ([[dedupLshQuality]]) with exactly
    * the candidate set the dedup path confirms. Input is the (already
    * checkpointed/persisted) shingle frame; output the distinct unordered
    * candidate pair list `(a_id, b_id)`.
    */
  private def lshCandidates(sh: DataFrame): DataFrame = {
    val sig = sh.select(col("doc_id"), col("sh"),
      graft.functions.GraftFunctions.minhash32(col("sh")).as("sig"))
    def bandKey(b: Int): Column =
      (0 until 4).foldLeft(lit(0L)) { (acc, r) =>
        acc * 31L + element_at(col("sig"), b * 4 + r + 1)
      }
    val bands = sig.select(col("doc_id"),
        explode(array((0 until 8).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bkey"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  private def minhashConfirm(spark: SparkSession, dir: String): DataFrame = {
    // short-lived shingle checkpoint — see the sharedCounts note on why
    // the corpus-sized stage is not published
    val sh = shingled(spark, dir).localCheckpoint()
    val cand = lshCandidates(sh)
    val withSets = cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
    val jac = col("inter") / (size(col("sha")) + size(col("shb")) - col("inter"))
    withSets
      .filter(jac >= 0.5)
      .select(col("a_id"), col("b_id"), round(jac, 6).as("jaccard"))
  }

  /** Shared oracle CTE chain ending in `confirmed(a_id, b_id, jaccard)` —
    * the MinHash-LSH candidate pipeline with exact-Jaccard confirmation.
    */
  private val minhashPairsCtes: String = {
    val sigExpr = s"list_transform(range(32), j -> " +
      s"list_min(list_transform(hs, h -> ${hashJSql("h", "j")})))"
    val bkey = "((((sig[4*b+1]) * 31 + sig[4*b+2]) * 31 + sig[4*b+3]) * 31 + sig[4*b+4])"
    s"""$shingledSql,
      |hashed AS (SELECT doc_id, sh,
      |  list_transform(sh, s -> ${polyHashSql("s")}) AS hs FROM shingled),
      |sig AS (SELECT doc_id, sh, $sigExpr AS sig FROM hashed),
      |bands AS (
      |  SELECT doc_id, b, $bkey AS bkey
      |  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS b) bb),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b
      |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT a_id, b_id,
      |         len(list_intersect(sa.sh, sb.sh)) AS inter,
      |         len(sa.sh) AS na, len(sb.sh) AS nb
      |  FROM cand
      |  JOIN shingled sa ON a_id = sa.doc_id
      |  JOIN shingled sb ON b_id = sb.doc_id),
      |confirmed AS (
      |  SELECT a_id, b_id, round(inter / (na + nb - inter), 6) AS jaccard
      |  FROM pairs WHERE inter / (na + nb - inter) >= 0.5)""".stripMargin
  }

  val dedupMinhashLshSql: String =
    s"""WITH $minhashPairsCtes
      |SELECT a_id, b_id, jaccard FROM confirmed
      |ORDER BY a_id, b_id""".stripMargin

  // ------------------------------------------- #134 LSH banding recall
  /** The banding's raw candidate pair list, published once per dataset
    * ([[graft.ops.DerivedZone]], pairs-sized): both query faces scan the
    * same zone files, so they plan identically. */
  private[graft] val lshCandZone =
    new graft.ops.DerivedZone("dedup_lsh_candidates", Seq("documents.parquet"))

  /** #134 dedup_lsh_quality: the measured S-curve of the MinHash banding —
    * per 0.05-wide Jaccard band of the exact near-dup ground truth (the
    * [[dedupNgramJaccard]] pair frame, df-capped sets, j ≥ 0.5), how many
    * pairs the 8×4 LSH candidate stage actually surfaced, with recall in
    * exact ppm (the step width matches [[dedupThresholdSweep]]'s cosine
    * sweep, so the two tuning reads line up). The read an operator takes before trusting a banding
    * config at corpus scale: theory says 8 bands × 4 rows crosses 50%
    * capture near j = (1/8)^(1/4) ≈ 0.59 and saturates by ≈ 0.8, and this
    * operator replaces that formula with the corpus's own curve. A recall
    * hole in a high bucket means real duplicates are escaping the dedup
    * pass — the silent-quality failure LSH deployments get audited for.
    *
    * Scale shape: the truth side is the published [[sharedMemo]] zone
    * (jaccard ≥ 0.5 ⇒ containment ≥ 0.5, so the zone's prefilter loses
    * nothing); the candidate side is [[lshCandidates]] — 8 (band,key)
    * rows per doc, collisions ∝ true near-dups. Both frames are
    * pairs-sized (tiny next to the corpus); the band key is exact
    * integer math, the final aggregate is |bands| rows. Truth uses the
    * dedup family's capped-shingle semantics; the banding hashes the full
    * sets exactly as the production [[dedupMinhashLsh]] path does — the
    * measurement covers the shipped pipeline, not an idealized one.
    */
  def dedupLshQuality(spark: SparkSession, dir: String): DataFrame = {
    val truth = sharedCounts(spark, dir)
      .filter(col("shared") * 2 >= col("na") + col("nb") - col("shared"))
      .select(col("a_id"), col("b_id"),
        expr("shared * 20 div (na + nb - shared)").as("bucket"))
    val cand = lshCandZone.get(spark, dir)(
      lshCandidates(shingled(spark, dir).localCheckpoint()))
      .withColumn("hit", lit(1L))
    truth.join(cand, Seq("a_id", "b_id"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_ppm", expr("n_caught * 1000000L div n_true"))
      .withColumn("jaccard_lo", col("bucket").cast("double") / lit(20))
      .select("bucket", "jaccard_lo", "n_true", "n_caught", "recall_ppm")
      .orderBy("bucket")
  }

  val dedupLshQualitySql: String =
    s"""WITH $minhashPairsCtes,
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
      |rare AS (
      |  SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s) t
      |  WHERE df <= $ShingleDfCap),
      |exc AS (SELECT doc_id, ex.s AS s FROM ex JOIN rare ON ex.s = rare.s),
      |shared AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      |  FROM exc a JOIN exc b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id),
      |truth AS (
      |  SELECT a_id, b_id,
      |         (shared * 20) // (sa.n + sb.n - shared) AS bucket
      |  FROM shared
      |  JOIN sizes sa ON a_id = sa.doc_id
      |  JOIN sizes sb ON b_id = sb.doc_id
      |  WHERE shared * 2 >= sa.n + sb.n - shared)
      |SELECT bucket, CAST(bucket AS DOUBLE) / 20 AS jaccard_lo,
      |       count(*) AS n_true,
      |       CAST(count(*) FILTER (WHERE c.a_id IS NOT NULL) AS BIGINT) AS n_caught,
      |       CAST(count(*) FILTER (WHERE c.a_id IS NOT NULL) AS BIGINT) * 1000000 // count(*) AS recall_ppm
      |FROM truth t LEFT JOIN cand c ON t.a_id = c.a_id AND t.b_id = c.b_id
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------- #23 simhash
  /** 63-bit SimHash over distinct tokens; near-dups = hamming ≤ 3 found by
    * 16-bit chunk banding (pigeonhole: 4 chunks, ≤3 differing bits ⇒ at
    * least one chunk equal — so the banding is *exact* for this radius).
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashMemo.get(spark, dir)(simhashPairs(spark, dir))
      .orderBy("a_id", "b_id")

  private def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // materialize the signatures BEFORE the self-join: both join sides
    // reference this frame, and without the checkpoint each side re-runs
    // the whole text scan + simhash fold — the signature pass is the
    // dominant cost, so the un-materialized form pays it twice
    val sh = Tables.documents(spark, dir).select(col("doc_id"),
      graft.functions.GraftFunctions
        .simhash63(array_distinct(split(col("text"), " "))).as("simhash"))
      .localCheckpoint()
    val chunks = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c => struct(lit(c).as("c"),
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(65535L)).as("ck"))): _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.c").as("c"), col("cc.ck").as("ck"))
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        ham.cast("int").as("hamming"))
      // filter BEFORE the dedup shuffle: the chunk join emits ~Σ bucket²
      // candidate pairs (16M at the 100× point) but only the hamming-≤3
      // survivors need the distinct — same result, tiny exchange
      .filter(col("hamming") <= 3)
      .distinct()
  }

  val dedupSimhashSql: String = {
    val bitSum = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(th, h -> (${hashJSql("h", "b")}) % 2 * 2 - 1)), (acc, x) -> acc + x)"
    val simhash = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(62, -1, -1), b -> " +
      s"CASE WHEN $bitSum > 0 THEN 1 ELSE 0 END)), (acc, bit) -> acc * 2 + bit)"
    s"""WITH th AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
      |                                t -> ${polyHashSql("t")}) AS th
      |  FROM documents),
      |sh AS (SELECT doc_id, $simhash AS simhash FROM th),
      |chunks AS (
      |  SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS ck
      |  FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc)
      |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM chunks a JOIN chunks b
      |  ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY a_id, b_id""".stripMargin
  }

  // ----------------------------------------- #33 duplicate-cluster labels
  /** Connected components over the MinHash-confirmed near-dup pairs:
    * every document in a duplicate cluster gets the cluster's minimum
    * doc_id as its label, and the label-holder is the keeper — the actual
    * decision step of a dedup pipeline (pairs alone don't dedupe;
    * transitive closures do).
    *
    * Implementation is iterative min-label propagation: each round is one
    * distributed join+aggregate (no driver-side graph), and the loop ends
    * when no label changes — O(cluster diameter) rounds, each shuffling
    * only the edge list. The oracle recomputes the closure with a
    * recursive CTE.
    */
  /** Rounds after which non-convergence aborts loudly instead of silently
    * truncating the closure (a cluster with diameter > MaxIters would
    * otherwise diverge from the recursive-CTE oracle). */
  private val MaxClusterIters = 50

  /** Component labels over [[confirmedPairs]] — the closure is ~10 join
    * rounds, and three registered queries ([[dedupClusters]],
    * [[dedupClusterSizes]], [[dedupKeepBest]]) consume the same labels;
    * without sharing each re-runs the whole propagation. Label output is
    * one row per clustered doc — published once per dataset
    * ([[graft.ops.DerivedZone]]) so a fresh session pays zero rounds.
    */
  private[graft] val labelsMemo =
    new graft.ops.DerivedZone("dedup_cluster_labels", Seq("documents.parquet"))

  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    labelsMemo.get(spark, dir)(
      connectedComponents(confirmedPairs(spark, dir).select("a_id", "b_id")))

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** Connected components over an undirected pair list `(a_id, b_id)`:
    * every vertex gets its component's minimum id as `cluster_id`, and the
    * label-holder is flagged `is_keeper` — distributed min-label
    * propagation with pointer jumping (lbl ← lbl∘lbl each round), so
    * convergence is O(log diameter) rounds, no driver-side graph.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint each round to TRUNCATE LINEAGE: the iterate's logical
    // plan otherwise deepens every round, and Catalyst re-analyzes the
    // whole tree per round — at cluster diameter ~20 that is analyzer
    // blowup, not just slowness. Checkpointed RDD blocks are auto-dropped
    // by the ContextCleaner once the superseded round's frame is
    // unreferenced.
    // checkpoint the pair list FIRST: it appears on both sides of the
    // symmetrizing union, and without materialization the whole upstream
    // pipeline (for dedup_clusters: the MinHash-LSH confirm) would
    // evaluate twice
    val p = pairs.localCheckpoint()
    val edges = p
      .unionByName(p.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .localCheckpoint()
    val emptyOut = edges.limit(0)
      .select(col("a_id").as("doc_id"), col("a_id").as("cluster_id"),
        lit(1).as("is_keeper"))
    val nEdges = edges.count() // edges is checkpointed — this is one cheap scan
    if (nEdges == 0) return emptyOut
    // The iterate shuffles ~|vertices| rows per round; size its parallelism
    // to the edge list (1 task per ~1M edges) instead of inheriting the
    // session's shuffle width — a near-dup graph is tiny relative to the
    // corpus, and 32-way shuffles of a few thousand rows make every round
    // pay scheduler overhead instead of doing work.
    val spark = pairs.sparkSession
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (nEdges / 1000000L).toInt + 1))
    var labels = edges.select(col("a_id").as("id")).distinct()
      .withColumn("lbl", col("id")).repartition(parts, col("id")).localCheckpoint()
    // labels only ever decrease, so the label sum is a strictly-monotone
    // convergence witness — one aggregate per round instead of a
    // join-and-count against the previous state.
    def lblSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).first().getLong(0)
    var prevSum = Long.MaxValue
    var curSum = lblSum(labels)
    var iter = 0
    // Each round, on the CONTRACTED label graph (edge endpoints rewritten
    // to their current labels):
    //   1. min-neighbor step — every representative label takes the min of
    //      its label-graph neighbors;
    //   2. pointer jump — every vertex then takes ITS LABEL'S label
    //      (lbl ∘ lbl), composing the decreasing map with itself.
    // The jump doubles the hop distance covered per round, so convergence
    // is O(log diameter) rounds, not O(diameter) (a 30-hop chain: 31
    // one-hop rounds → 7). Both joins run against bounded, materialized
    // inputs; see `rebase` below for why the iterate must also RESET
    // STATS, not just truncate lineage.
    //
    // rebase: localCheckpoint truncates the LINEAGE, but Spark 4's
    // LogicalRDD keeps the ORIGIN DATASET'S STATS — and a join's estimated
    // sizeInBytes is the product of its inputs', so carrying the estimate
    // across rounds compounds it geometrically. By round ~20 the size
    // "estimate" is a multi-megaBIT BigInteger and Catalyst spends minutes
    // per round multiplying BigInts inside stats estimation. Rebuilding
    // the frame over the checkpointed RDD drops the origin stats back to a
    // constant (and keeps the lineage truncation).
    def rebase(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      spark.createDataFrame(ck.rdd, ck.schema)
    }
    while (curSum != prevSum && iter < MaxClusterIters) {
      val la = edges.join(labels, edges("a_id") === labels("id"))
        .select(col("lbl").as("la"), col("b_id"))
      // edges are symmetrized, so the relabeled list already contains
      // both directions; self-loops (edges inside one cluster) drop out
      val rel = la.join(labels, la("b_id") === labels("id"))
        .select(col("la"), col("lbl").as("lb"))
        .filter(col("la") =!= col("lb"))
      val nbrMin = rel.groupBy(col("la").as("nid")).agg(min(col("lb")).as("nlbl"))
      // materialized before the self-join below so the step runs once,
      // not once per join side
      val stepped = rebase(
        labels.join(nbrMin, labels("lbl") === nbrMin("nid"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      // pointer jump: labels are always existing vertex ids, so the
      // composition is a self-join of the stepped labelling
      val asMap = stepped.select(col("id").as("mid"), col("lbl").as("mlbl"))
      val next = stepped.join(asMap, stepped("lbl") === asMap("mid"), "left")
        .select(stepped("id"), coalesce(col("mlbl"), col("lbl")).as("lbl"))
        .repartition(parts, col("id"))
      val rebased = rebase(next)
      prevSum = curSum
      curSum = lblSum(rebased)
      labels = rebased
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $iter labelSum=$curSum")
    }
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"dedup_clusters: min-label propagation did not converge in $MaxClusterIters rounds")
    labels
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).cast("int").as("is_keeper"))
      .orderBy("doc_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM confirmed
      |  UNION ALL SELECT b_id, a_id FROM confirmed),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS doc_id, min(v) AS cluster_id,
      |       CAST(u = min(v) AS INT) AS is_keeper
      |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  // -------------------------------------------- #54 cluster-size profile
  /** Duplicate-cluster size distribution: how many clusters of each size
    * the near-dup graph contains — the dedup run's audit report (a spike
    * at large sizes means boilerplate/template contamination). One count
    * aggregation over the component labels.
    */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val dedupClusterSizesSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM confirmed
      |  UNION ALL SELECT b_id, a_id FROM confirmed),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |labels AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      |sizes AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1)
      |SELECT sz AS cluster_size, count(*) AS n_clusters
      |FROM sizes GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ------------------------------------------------ #49 keep-best decision
  /** The dedup DECISION stage: within each duplicate cluster, keep the
    * highest-quality document (ties → smallest doc_id) — clusters alone
    * don't curate a corpus; this picks the survivor. Composes
    * [[dedupClusters]] with [[TextOps.textQuality]]'s score; the per-
    * cluster argmax windows over cluster_id (many small groups).
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).select("doc_id", "cluster_id")
    val quality = TextOps.textQuality(spark, dir).select("doc_id", "quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("n_docs"),
        col("doc_id").as("keep_id"), col("quality").as("keep_quality"))
      .orderBy("cluster_id")
  }

  val dedupKeepBestSql: String = {
    // quality formula duplicated verbatim from TextOps.textQualitySql so
    // the two oracles can never drift apart silently
    val inList = Seq("the", "a", "and", "of", "to", "in", "is", "it")
      .map(s => s"'$s'").mkString(", ")
    val quality =
      s"""round((0.4 * (len(list_filter(string_split(text, ' '), t -> t IN ($inList)))
        |              / len(string_split(text, ' ')))
        |       + 0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text)))
        |      + 0.3 * least(len(string_split(text, ' ')) / 100, 1.0), 6)""".stripMargin
    s"""WITH RECURSIVE $minhashPairsCtes,
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM confirmed
      |  UNION ALL SELECT b_id, a_id FROM confirmed),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |labels AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
      |q AS (SELECT doc_id, $quality AS quality FROM documents),
      |ranked AS (
      |  SELECT l.cluster_id, l.doc_id, q.quality,
      |         row_number() OVER (PARTITION BY l.cluster_id
      |                            ORDER BY q.quality DESC, l.doc_id ASC) AS rk,
      |         count(*) OVER (PARTITION BY l.cluster_id) AS n_docs
      |  FROM labels l JOIN q ON l.doc_id = q.doc_id)
      |SELECT cluster_id, n_docs, doc_id AS keep_id, quality AS keep_quality
      |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin
  }

  // ------------------------------------------------- #61 chunk-level dedup
  /** Tokens per chunk for [[dedupChunks]]. */
  val ChunkTokens = 32

  /** #61 dedup_chunks: sub-document (chunk-level) exact dedup — split each
    * doc into fixed 32-token chunks, hash each chunk, report chunks that
    * appear in more than one document. This is the boilerplate-removal
    * stage of a training pipeline: whole-doc dedup misses a shared header
    * pasted into otherwise-distinct pages; chunk hashing finds it.
    *
    * Corpus: documents unioned with a simulated boilerplate-wrapped
    * re-crawl (a fixed 32-token banner prepended, ids offset by 1e6) so
    * both failure modes appear — the banner chunk lands in every wrapped
    * doc, and because the banner is exactly one chunk long the original
    * chunks stay aligned and recur across the pair.
    *
    * Scale shape: chunk hashes are computed in one map-side projection
    * (the md5 shuffles as a 32-char key, never the text), then a single
    * groupBy — identical posture to [[dedupExact]] at finer grain.
    */
  def dedupChunks(spark: SparkSession, dir: String): DataFrame = {
    val banner = (0 until ChunkTokens).map(i => s"boil$i").mkString(" ")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(banner + " "), col("text")).as("text")))
    val toks = split(col("text"), " ")
    val nChunks = (size(toks) / ChunkTokens).cast("int")
    val chunkHashes = when(nChunks > 0,
      transform(sequence(lit(0), nChunks - 1), i =>
        md5(concat_ws(" ", slice(toks, i * ChunkTokens + 1, lit(ChunkTokens))))))
      .otherwise(array().cast("array<string>"))
    corpus
      .select(col("doc_id"), explode(chunkHashes).as("chunk_hash"))
      .groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_hash")
  }

  val dedupChunksSql: String = {
    val banner = (0 until ChunkTokens).map(i => s"boil$i").mkString(" ")
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, '$banner ' || text FROM documents),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |chunks AS (
      |  SELECT doc_id,
      |         unnest([md5(array_to_string(t[i*$ChunkTokens+1 : i*$ChunkTokens+$ChunkTokens], ' '))
      |                 for i in range(len(t) // $ChunkTokens)]) AS chunk_hash
      |  FROM toks)
      |SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
      |       count(*) AS n_occurrences, min(doc_id) AS first_doc
      |FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1
      |ORDER BY chunk_hash""".stripMargin
  }

  // ----------------------------------------------- #24 embedding near-dup
  /** Candidate budget per vector in [[dedupEmbedding]]: a sign bucket
    * larger than this splits into `ceil(size / EmbedCell)` deterministic
    * cells (`vec_id % s`) and pairs are drawn within the cell — the same
    * linearity defense as `knn_graph`'s `GraphCell`, and it is NOT
    * optional here: the synthetic embeddings collapse into 4 occupied
    * sign patterns, so the raw bucket self-join is Σ bucket² ≈ N²/4.
    * Measured at the 100× scale point: 334 s raw → the cell split keeps
    * per-bucket work ∝ size · EmbedCell (linear in N). The trade is
    * recall (a true pair survives only when both ids land in one cell,
    * ~1/s once buckets oversize) — the standard LSH candidate-sampling
    * trade, mirrored exactly in the oracle; production tunes it with
    * more planes + multi-probe, which only changes constants here.
    */
  val EmbedCell = 128

  /** Embedding-cosine near-dup pairs, LSH-bucketed: 8 deterministic ±1
    * hyperplanes → sign buckets; only same-(bucket, cell) pairs are
    * compared (the join is a key equality join, never all-pairs, with
    * [[EmbedCell]] bounding per-vector candidates), then confirmed at
    * cosine ≥ 0.4.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"),
      toDouble(col("embedding")).as("ed"))
    val bv = base.select(col("vec_id"), col("ed"),
      sqrt(graft.functions.GraftFunctions.dotp(col("ed"), col("ed"))).as("nrm"),
      graft.functions.GraftFunctions.hyperplaneBucket8(col("ed")).as("bucket"))
    val cells = bv.groupBy("bucket")
      .agg(((count(lit(1)) + EmbedCell - 1) / EmbedCell).cast("long").as("s"))
    val bvc = bv.join(broadcast(cells), "bucket")
      .withColumn("cell", col("vec_id") % col("s"))
    val cos = graft.functions.GraftFunctions.dotp(col("a.ed"), col("b.ed")) /
      (col("a.nrm") * col("b.nrm"))
    bvc.as("a").join(bvc.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cos.as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("a_id", "b_id")
  }

  /** Shared CTEs: hyperplane-bucketed, cell-split embedding near-dup
    * pairs (the body of [[dedupEmbeddingSql]], reused by the
    * semantic-dedup closure). */
  private val embeddingPairsCtes: String = {
    def projSql(p: Int): String =
      seqSumSql(s"list_transform(range(64), i -> " +
        s"CAST(emb[i+1] AS DOUBLE) * ${planeSignSql(p, "i")})")
    val bucket = (0 until 8).foldLeft("CAST(0 AS BIGINT)") { (acc, p) =>
      s"($acc * 2 + (CASE WHEN ${projSql(p)} > 0 THEN 1 ELSE 0 END))"
    }
    val cos = s"${dotSql("a.emb", "b.emb", 64)} / (a.nrm * b.nrm)"
    s"""bv AS (
      |  SELECT vec_id, embedding AS emb, ${l2normSql("embedding", 64)} AS nrm,
      |         $bucket AS bucket
      |  FROM embeddings),
      |cells AS (SELECT bucket, (count(*) + ${EmbedCell - 1}) // $EmbedCell AS s
      |          FROM bv GROUP BY bucket),
      |bvc AS (SELECT bv.*, bv.vec_id % cells.s AS cell
      |        FROM bv JOIN cells ON bv.bucket = cells.bucket),
      |epairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, round($cos, 6) AS cosine
      |  FROM bvc a JOIN bvc b
      |    ON a.bucket = b.bucket AND a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE $cos >= 0.4)""".stripMargin
  }

  val dedupEmbeddingSql: String =
    s"""WITH $embeddingPairsCtes
      |SELECT a_id, b_id, cosine FROM epairs
      |ORDER BY a_id, b_id""".stripMargin

  // -------------------------------------------------- #71 semantic dedup
  /** SemDeDup-style semantic deduplication: transitive closure over the
    * embedding-cosine near-dup graph, keeping one representative per
    * semantic cluster — catches paraphrases and re-encodings that share
    * no surface n-grams, the layer above [[dedupMinhashLsh]] in a modern
    * training-data pipeline.
    *
    * Same distributed machinery as [[dedupClusters]] (checkpointed
    * min-label propagation, no driver graph); only the edge source
    * differs (cosine pairs instead of MinHash pairs). Labels are
    * published once per dataset like [[labelsMemo]] — one row per
    * clustered vector — which also makes the query's plan
    * canonicalization-stable (both faces scan the same zone files), so
    * the SQL surface asserts full plan identity on it.
    */
  private[graft] val semanticLabelsMemo =
    new graft.ops.DerivedZone("semantic_cluster_labels", Seq("embeddings.parquet"))

  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    semanticLabelsMemo.get(spark, dir)(
      connectedComponents(dedupEmbedding(spark, dir).select("a_id", "b_id"))
        .withColumnRenamed("doc_id", "vec_id"))

  val dedupSemanticSql: String =
    s"""WITH RECURSIVE $embeddingPairsCtes,
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM epairs
      |  UNION ALL SELECT b_id, a_id FROM epairs),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS vec_id, min(v) AS cluster_id,
      |       CAST(u = min(v) AS INT) AS is_keeper
      |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin

  // ------------------------------------- #128 per-source duplication audit
  /** Near-dup impact per corpus SOURCE — the pipeline diagnostic that
    * decides which feeds get demoted or re-crawled: for every `source`,
    * total docs, docs that are members of any duplicate cluster, docs a
    * keep-one-per-cluster pass would REMOVE (cluster keeper = the
    * min-doc_id label holder, same convention as [[dedupKeepBest]]'s
    * cluster ids), and the removal rate in exact integer ppm.
    *
    * Scale shape: cluster labels come from the published
    * [[labelsMemo]] zone (built once per dataset, shared with
    * `dedup_clusters`/`dedup_keep_best`), so this query adds ONE
    * pruned-column scan of `documents` (doc_id, source), a key join
    * against the (corpus-sparse) label frame, and a per-source
    * aggregation whose key space is the source catalog — partial
    * aggregation collapses each partition before the only small exchange.
    */
  def corpusDupBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val labels = clusterLabels(spark, dir)
      .select(col("doc_id"), col("is_keeper"))
    docs.join(labels, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_keeper").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("is_keeper") === 0, 1L).otherwise(0L)).as("n_removable"))
      .withColumn("dup_ppm", expr("n_removable * 1000000 div n_docs"))
      .orderBy("source")
  }

  val corpusDupBySourceSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
      |edges AS (
      |  SELECT a_id AS u, b_id AS v FROM confirmed
      |  UNION ALL SELECT b_id, a_id FROM confirmed),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |labels AS (
      |  SELECT u AS doc_id, CAST(u = min(v) AS INT) AS is_keeper
      |  FROM reach GROUP BY u)
      |SELECT d.source,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |       CAST(sum(CASE WHEN l.is_keeper = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removable,
      |       (CAST(sum(CASE WHEN l.is_keeper = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |         // count(*) AS dup_ppm
      |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ----------------------------------- #129 dedup threshold sensitivity
  /** Cosine-threshold sensitivity sweep over the embedding near-dup pair
    * space: how many candidate pairs a semantic-dedup pass would confirm
    * at each threshold step — the tuning curve an operator reads BEFORE
    * committing a threshold to a 100 TB dedup run. Buckets are 0.05-wide
    * steps over the same LSH-bucketed, cell-capped pair frame
    * [[dedupEmbedding]] enumerates (never all-pairs), bucketed in exact
    * integer micro-cosine units (`round(cosine·10⁶) div 50000` — no float
    * edge math), with a cumulative count from the top so each row reads
    * "pairs at or above this threshold".
    *
    * Scale shape: the pair enumeration is the measured linear
    * [[dedupEmbedding]] machinery; on top of it sit one partial-agg
    * exchange over ≤ ~13 bucket keys and a single-partition running sum
    * over those 13 rows — free at any corpus size.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = dedupEmbedding(spark, dir)
      .select(round(col("cosine") * 1e6).cast("long").as("c6"))
      // `div`, not `/`: Spark's `/` is DOUBLE division even on longs, and
      // a quotient landing within one ulp of an integer would truncate to
      // the wrong bucket; integral division cannot
      .select(expr("c6 div 50000").as("bi"))
      .groupBy("bi").agg(count(lit(1)).as("n_pairs"))
    hist
      .select((col("bi") / 20.0).as("threshold"), col("n_pairs"),
        sum(col("n_pairs")).over(Window.orderBy(col("bi").desc))
          .as("cum_pairs"))
      .orderBy(col("threshold").desc)
  }

  val dedupThresholdSweepSql: String =
    s"""WITH $embeddingPairsCtes,
      |h AS (
      |  SELECT CAST(round(cosine * 1000000) AS BIGINT) // 50000 AS bi,
      |         count(*) AS n_pairs
      |  FROM epairs GROUP BY 1)
      |SELECT bi / 20.0 AS threshold, n_pairs,
      |       CAST(sum(n_pairs) OVER (ORDER BY bi DESC) AS BIGINT) AS cum_pairs
      |FROM h ORDER BY threshold DESC""".stripMargin
}
