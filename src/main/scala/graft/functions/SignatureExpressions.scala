package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.KernelColumns.kernel
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot signature computations.
  *
  * The declarative forms (`transform`/`aggregate` lambda folds) are
  * correct but interpreted — Spark evaluates higher-order functions
  * expression-node-by-node per element, which made MinHash/SimHash
  * signature generation the bench bottleneck (~24 s for 5 000 docs at
  * sf0.1). These expressions collapse each signature into ONE compiled
  * primitive loop per row (no intermediate arrays, no boxing, each
  * shingle hashed exactly once), preserving bit-identical arithmetic with
  * [[Portable]] and therefore with the DuckDB oracle.
  *
  * Each expression implements `doGenCode` as a static call into the
  * [[Sig]] kernels, so projections containing them STAY inside
  * whole-stage codegen (a `CodegenFallback` anywhere in a projection
  * forces the whole projection to interpreted mode); the interpreted
  * `nullSafeEval` path delegates to the same kernels.
  *
  * Reached through [[GraftFunctions]]: typed `Column` helpers for query
  * code, and the `graft_*` SQL names.
  */
object Sig {
  final val P = Portable.P // 1000000007
  final val Seed = Portable.Seed // 7

  /** Polynomial rolling hash of UTF-8 bytes — identical to
    * [[Portable.polyHash]] for ASCII input. */
  @inline def polyHash(bytes: Array[Byte]): Long = {
    var h = Seed
    var k = 0
    while (k < bytes.length) { h = (h * 31L + (bytes(k) & 0xffL)) % P; k += 1 }
    h
  }

  // hashJ(h, j) = ((j+1)*1000003 % P * h + (j*999983 + 12345) % P) % P.
  // The per-j coefficients are constants; precomputing them turns the
  // 3-mul/3-mod formula into 1 mul + 1 add + 1 mod per (token, bit) in the
  // minhash/simhash inner loops. Values are reduced mod P up front, so the
  // result is bit-identical to the original formula (and to
  // [[Portable.hashJ]] / the oracle SQL). A·h < P² ≈ 10¹⁸ stays in Long.
  private final val HJMax = 64
  private val HJa: Array[Long] =
    Array.tabulate(HJMax)(j => (j + 1) * 1000003L % P)
  private val HJb: Array[Long] =
    Array.tabulate(HJMax)(j => (j * 999983L + 12345L) % P)

  @inline def hashJ(h: Long, j: Long): Long =
    if (j >= 0 && j < HJMax) (HJa(j.toInt) * h + HJb(j.toInt)) % P
    else ((j + 1) * 1000003L % P * h + (j * 999983L + 12345L) % P) % P

  // ---- per-row kernels, called from both nullSafeEval and generated code
  // (Scala object methods compile to static forwarders, so Janino-built
  // whole-stage code can call `graft.functions.Sig.minhash32(...)`).

  /** 32-permutation MinHash signature; null for an empty shingle set
    * (matching `list_min([]) IS NULL` on the oracle side). */
  def minhash32(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(32)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = polyHash(arr.getUTF8String(i).getBytes)
      // incremental residues: A_j and B_j advance by constants as j
      // increments, so A_j·h mod P and B_j mod P update with one add and
      // one conditional subtract each — no multiply/divide in the loop.
      // Values are exactly hashJ(h, j) = (A_j·h + B_j) mod P.
      val step = 1000003L * h % P
      var ah = step // A_0·h mod P, A_0 = 1000003
      var bj = 12345L // B_0
      var j = 0
      while (j < 32) {
        var v = ah + bj
        if (v >= P) v -= P
        if (v < mins(j)) mins(j) = v
        ah += step; if (ah >= P) ah -= P
        bj += 999983L; if (bj >= P) bj -= P
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 63-bit SimHash of a token set — bit b set when
    * Σ_tokens (parity(hashJ(polyhash(t), b))·2 − 1) > 0. */
  def simhash63(arr: ArrayData): Long = {
    val n = arr.numElements()
    val sums = new Array[Long](63)
    var i = 0
    while (i < n) {
      val h = polyHash(arr.getUTF8String(i).getBytes)
      // same incremental-residue walk as [[minhash32]]: per (token, bit)
      // the hashJ value costs two adds + two conditional subtracts,
      // bit-identical to ((b+1)·1000003 % P · h + (b·999983+12345) % P) % P
      val step = 1000003L * h % P
      var ah = step
      var bj = 12345L
      var b = 0
      while (b < 63) {
        var v = ah + bj
        if (v >= P) v -= P
        sums(b) += v % 2 * 2 - 1
        ah += step; if (ah >= P) ah -= P
        bj += 999983L; if (bj >= P) bj -= P
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 62
    while (b >= 0) { sim = sim * 2 + (if (sums(b) > 0) 1L else 0L); b -= 1 }
    sim
  }

  /** 8-plane random-hyperplane LSH bucket id; plane coefficients are the
    * ±1 parity signs of [[Portable.planeSign]], projections summed in
    * index order so the IEEE result is bit-identical to the
    * declarative/oracle forms. */
  def hyperplane8(arr: ArrayData): Long = hyperplaneCode(arr, 0, 8)

  /** Precomputed [[Portable.planeSign]] coefficients (they are constants
    * of (plane, dim)): parity of the CUBED hash — see the planeSign doc
    * for why the cube mixer is load-bearing (affine parity degenerated
    * to 4 effective buckets). Covers every plane/dim the kernels use;
    * out-of-range falls back to the formula. */
  private final val PlaneSigns: Array[Array[Double]] =
    Array.tabulate(128, 256) { (p, i) =>
      val h = hashJ(i + 13L, p)
      if (h * h % P * h % P % 2 == 0) 1.0 else -1.0
    }

  @inline private def planeSign(p: Int, i: Int): Double =
    if (p < 128 && i < 256) PlaneSigns(p)(i)
    else { val h = hashJ(i + 13L, p); if (h * h % P * h % P % 2 == 0) 1.0 else -1.0 }

  /** `planes`-bit random-hyperplane code over planes `[start, start +
    * planes)` (MSB-first, plane `start` highest). With `start = 0` the
    * top 8 bits of a `planes >= 8` code ARE the [[hyperplane8]] bucket
    * (same plane sequence, same fold order), so a deeper code refines
    * the coarse bucket rather than re-hashing it; a nonzero `start`
    * yields an INDEPENDENT code table (disjoint plane set) — the
    * multi-table LSH the kNN graph unions candidates across. */
  def hyperplaneCode(arr: ArrayData, start: Int, planes: Int): Long = {
    val n = arr.numElements()
    var code = 0L
    var p = start
    val end = start + planes
    while (p < end) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        proj += arr.getDouble(i) * planeSign(p, i)
        i += 1
      }
      code = code * 2 + (if (proj > 0) 1L else 0L)
      p += 1
    }
    code
  }

  /** Word n-gram shingles joined with single spaces; `distinct = true`
    * keeps the first occurrence of each shingle (same order contract as
    * `array_distinct` over the declarative [[Portable.shingles3]] form).
    * Empty array when the doc has fewer than n tokens. */
  def ngrams(arr: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val total = arr.numElements()
    if (total < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[org.apache.spark.unsafe.types.UTF8String](total)
    var i = 0
    while (i < total) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new java.util.ArrayList[Any](total - n + 1)
    val seen = if (distinct) new java.util.HashSet[Any]() else null
    val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    i = 0
    while (i <= total - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](2 * n - 1)
      var k = 0
      while (k < n) {
        if (k > 0) parts(2 * k - 1) = space
        parts(2 * k) = toks(i + k)
        k += 1
      }
      val gram = org.apache.spark.unsafe.types.UTF8String.concat(parts: _*)
      if (seen == null || seen.add(gram)) out.add(gram)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-document term frequencies: one `(term, tf)` entry per DISTINCT
    * token of `arr`, in first-occurrence order (deterministic). The
    * map-side form of `explode(tokens) → count per (doc, term)` — the
    * counts are identical by construction; folding them in-row removes
    * the corpus-sized token exchange from the tf/df build (round 16;
    * the downstream aggregates/joins are order-insensitive). */
  def termCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Sequential (index-order) dot product — bit-identical to the
    * `zip_with`+`aggregate` fold and to the oracle's `list_reduce` sum. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  /** Dot product of two FLOAT arrays accumulated in double — BIT-IDENTICAL
    * to [[dot]] over element-wise float→double casts (a float→double cast
    * is exact, and the accumulation order is the same), while the array
    * rides shuffles at half the bytes. This is the scoring kernel for fat
    * linear exchanges that carry the raw storage-typed vectors
    * (embeddings parquet is `array<float>`) instead of pre-widened
    * doubles. */
  def dotF(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Squared L2 distance between two long arrays — the quantized-space
    * kernel of the PQ/ADC scan and integer k-means; identical to the
    * `zip_with`+`aggregate` fold and the oracle's `list_reduce` sum. */
  def l2sq(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); acc += d * d; i += 1 }
    acc
  }

  /** Polynomial string hash — the scalar form of [[polyHash]], identical
    * to [[Portable.polyHash]]'s declarative per-char fold for ASCII. */
  def polyHashStr(s: org.apache.spark.unsafe.types.UTF8String): Long =
    polyHash(s.getBytes)

  /** One-pass hashed bag-of-words featurization, the compiled kernel
    * behind `text_hash_features`: fold [[polyHash]] over each
    * whitespace token's bytes as the scan passes them (zero-copy, no
    * split arrays, no per-bucket rescans) and count tokens per
    * `hash % nBuckets` cell. Identical to exploding the tokens, hashing
    * each with `graft_polyhash`, and counting per bucket — the oracle's
    * formulation — but in one linear byte pass per document. ASCII-exact
    * like every `Portable` fold.
    */
  def hashFeatures(s: org.apache.spark.unsafe.types.UTF8String,
                   nBuckets: Int): ArrayData = {
    val b = s.getBytes
    val counts = new Array[Long](nBuckets)
    var acc = Seed
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == ' ') {
        counts((acc % nBuckets).toInt) += 1
        acc = Portable.Seed
      } else acc = (acc * 31L + (c & 0xffL)) % P
      i += 1
    }
    counts((acc % nBuckets).toInt) += 1
    new GenericArrayData(counts)
  }

  /** One-pass per-document token statistics, the fused kernel behind
    * `text_tokens`:
    *  - `n_ws_tokens` = `size(split(text, " "))` = spaces + 1 (trailing
    *    empties kept, as both Spark and the oracle's `string_split` do);
    *  - `n_words` = match count of `[a-z]+|[0-9]+|[^a-z0-9 ]` over the
    *    lowercased text, counted with a run state machine (a letter/digit
    *    run is one match; every other non-space char is its own match);
    *  - `n_vocab` = exact distinct whitespace-token count (hash set of
    *    token byte-slices — same result as `array_distinct(split(...))`);
    *  - `n_chars` = codepoint count (non-continuation bytes), identical
    *    to `length()` in both engines.
    * ASCII-exact like [[normalizeText]]; a non-ASCII char counts one
    * codepoint but its bytes each count as a punctuation match. */
  def tokenStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    var spaces = 0
    var chars = 0
    var words = 0
    var inLetter = false
    var inDigit = false
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    var tokStart = 0
    var i = 0
    while (i < b.length) {
      val c0 = b(i)
      if ((c0 & 0xc0) != 0x80) chars += 1
      var c = c0
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if (c == ' ') {
        spaces += 1
        seen.add(org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, tokStart, i - tokStart))
        tokStart = i + 1
        inLetter = false
        inDigit = false
      } else {
        val isL = c >= 'a' && c <= 'z'
        val isD = c >= '0' && c <= '9'
        if (isL) { if (!inLetter) words += 1 }
        else if (isD) { if (!inDigit) words += 1 }
        else words += 1
        inLetter = isL
        inDigit = isD
      }
      i += 1
    }
    seen.add(org.apache.spark.unsafe.types.UTF8String
      .fromBytes(b, tokStart, b.length - tokStart))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](spaces + 1, words, seen.size, chars))
  }

  /** The Gopher-rule stopword inventory (Rae et al. 2021 §A1.1 uses a
    * "common English word" list; this engine pins the five-word subset
    * its oracle-checked rule uses). Shared by the kernel registration and
    * the `text_gopher_rules` oracle SQL so the two can never drift. */
  final val GopherStops: Seq[String] = Seq("the", "a", "and", "is", "of")

  /** Membership set for [[gopherStats]] — built once per expression
    * instance and shipped to generated code as a reference object. */
  def buildStopSet(stops: Seq[String])
      : java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val set = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](
      stops.size * 2)
    stops.foreach(t =>
      set.add(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    set
  }

  /** One-pass per-document Gopher-rule statistics — the compiled kernel
    * behind `text_gopher_rules`. The declarative form computed the max
    * term frequency as `array_max(transform(array_distinct(toks), t =>
    * size(filter(toks, x => x === t))))` — an interpreted nested
    * higher-order-function pass that is O(distinct × tokens) per
    * document, quadratic on the 50 000-token documents the rule's own
    * word-count bound admits (measured: the worst last-step scaler in
    * BENCH_SCALING.md's 3-decade chain at 7.8× for 10× data, and the
    * slowest ×100 query at 10.24 s on ~100-token docs). This kernel is
    * one linear scan with a token-count hash map:
    *  - `n_tokens` = `size(split(text, " "))` = spaces + 1 (trailing /
    *    consecutive-space empties kept, exactly as `split` keeps them);
    *  - `sum_len` = `length(text) - (n_tokens - 1)` = codepoints minus
    *    separator spaces (the summed token lengths);
    *  - `n_vocab` = exact distinct token count (byte-equality, the same
    *    contract as `array_distinct` under binary collation);
    *  - `max_tf`  = the highest single-token occurrence count;
    *  - `n_stops` = distinct tokens present in `stops` (counted on a
    *    token's FIRST occurrence, so each stopword counts once).
    * Tokens are zero-copy byte-slices of the input; per token the map
    * pays one hash + one boxed increment — no intermediate arrays, no
    * per-distinct rescans. Bit-identical to the HOF form (spec-pinned in
    * SigExpressionsSpec both on the real corpus and on adversarial
    * edges). */
  private val SumInts: java.util.function.BiFunction[Integer, Integer, Integer] =
    (a, x) => Integer.valueOf(a.intValue() + x.intValue())

  def gopherStats(s: org.apache.spark.unsafe.types.UTF8String,
                  stops: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    var spaces = 0
    var chars = 0
    var maxTf = 0
    var nStops = 0
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    val one = Integer.valueOf(1)
    var tokStart = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c & 0xc0) != 0x80) chars += 1
      if (c == ' ') {
        spaces += 1
        val tok = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, tokStart, i - tokStart)
        val cnt = counts.merge(tok, one, SumInts)
        if (cnt > maxTf) maxTf = cnt
        if (cnt == 1 && stops.contains(tok)) nStops += 1
        tokStart = i + 1
      }
      i += 1
    }
    val tok = org.apache.spark.unsafe.types.UTF8String
      .fromBytes(b, tokStart, b.length - tokStart)
    val cnt = counts.merge(tok, one, SumInts)
    if (cnt > maxTf) maxTf = cnt
    if (cnt == 1 && stops.contains(tok)) nStops += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](spaces + 1, chars - spaces, counts.size, maxTf, nStops))
  }

  /** One-pass per-document lexical-diversity statistics — the compiled
    * kernel behind `text_diversity`. Tokens are the ' '-separated byte
    * slices of the input (consecutive/trailing-space empties kept, the
    * `string_split` contract shared with [[gopherStats]]); counting uses
    * the same zero-copy token hash map. All four outputs are exact
    * integers, so every downstream ratio is ONE double division of two
    * identical integers in both engines — no cross-engine float drift:
    *  - `n_tokens` = spaces + 1;
    *  - `n_types`  = exact distinct token count (byte equality);
    *  - `sum_cc`   = Σ_types c·(c−1) — the unnormalized collision count
    *    behind the Simpson repeat probability, maintained incrementally
    *    (a token's count moving c−1 → c adds 2·(c−1));
    *  - `n_hapax`  = tokens occurring exactly once (+1 at first sight,
    *    −1 when a second occurrence arrives). */
  def diversityStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val counts =
      new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    val one = Integer.valueOf(1)
    var spaces = 0
    var sumCC = 0L
    var hapax = 0
    var tokStart = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        if (i < b.length) spaces += 1
        val tok = org.apache.spark.unsafe.types.UTF8String
          .fromBytes(b, tokStart, i - tokStart)
        val cnt = counts.merge(tok, one, SumInts).intValue()
        sumCC += 2L * (cnt - 1)
        if (cnt == 1) hapax += 1 else if (cnt == 2) hapax -= 1
        tokStart = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](spaces + 1, counts.size, sumCC, hapax))
  }

  /** One-pass per-document character-class counts — the compiled kernel
    * behind `text_charset_profile` (round 15, guide §2.4/§1.2 "per-task
    * work"). The declarative form ran THREE `regexp_replace` passes per
    * row, each materializing a stripped copy of the document, just to
    * take the copies' lengths. This is one byte scan, zero
    * allocations:
    *  - `n_chars`  = codepoints (`length(text)`: bytes that are not
    *    UTF-8 continuation bytes);
    *  - `n_letter` = bytes in `[a-z]` ≡
    *    `length(regexp_replace(text, "[^a-z]", ""))` (the class is
    *    ASCII-only, and every byte of a multi-byte codepoint is ≥ 0x80,
    *    so byte-wise and character-wise counting agree);
    *  - `n_digit`  = bytes in `[0-9]`, same argument;
    *  - `n_space`  = `' '` bytes, same argument. */
  def charClassStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    var chars = 0
    var letter = 0
    var digit = 0
    var space = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c & 0xc0) != 0x80) chars += 1
      if (c >= 'a' && c <= 'z') letter += 1
      else if (c >= '0' && c <= '9') digit += 1
      else if (c == ' ') space += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](chars, letter, digit, space))
  }

  /** Single-pass text canonicalization: ASCII lowercase, every byte
    * outside `[a-z0-9]` becomes a space, runs of spaces collapse to one,
    * leading/trailing spaces dropped. Byte-for-byte equal to
    * `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", " "), " +", " "))`
    * for any input whose non-ASCII characters don't lowercase into
    * `[a-z0-9]` (each byte of a multi-byte char maps to a space, and the
    * collapse step merges them exactly as the regex merges the one space
    * the character-level replace emits). One linear scan, no regex
    * machinery, no intermediate strings. */
  def normalizeText(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val b = s.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      var c = b(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        out(n) = c
        n += 1
        pendingSpace = false
      } else {
        pendingSpace = true
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out, 0, n)
  }

  // ---- fused PII-scrub kernel (`pii_scrub`) ------------------------------
  //
  // The declarative form is a FOUR-pass java.util.regex chain
  // (regexp_count ×2 + nested regexp_replace ×2) with two intermediate
  // string materializations per row — the worst purely-CPU scaler in the
  // sf10 bench. This kernel computes all three outputs in compiled
  // byte-level scans with no regex machinery. Match enumeration reproduces
  // java.util.regex `find()` over the exact published patterns
  //   email: [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  //   phone: \+1-555-[0-9]{4}
  // (greedy quantifiers, leftmost start, non-overlapping continuation),
  // spec-verified against the regex form both ways. Byte-level scanning is
  // sound: every pattern char is ASCII, and UTF-8 continuation/lead bytes
  // (high bit set) can never match an ASCII class.

  @inline private def isLocalB(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'
  @inline private def isDomB(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '-'
  @inline private def isAlphaB(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigitB(c: Byte): Boolean = c >= '0' && c <= '9'

  /** Email matches as flat (start, end) pairs. Enumerating by '@' position
    * is equivalent to the engine's leftmost-start order: a match contains
    * exactly one '@' (the char is in neither class), so matches from
    * earlier '@'s always start earlier, and a failed '@' fails for every
    * candidate start. The greedy-domain backtrack reduces to "rightmost
    * dot in the domain run with ≥2 letters after it"; `{2,}` then extends
    * over the maximal letter run. `pos` is the non-overlap boundary: a
    * later match's local part may not reach into a previous match. */
  private def emailSpans(b: Array[Byte]): java.util.ArrayList[Integer] = {
    val spans = new java.util.ArrayList[Integer]()
    val n = b.length
    var pos = 0
    var j = 0
    while (j < n) {
      if (b(j) == '@' && j > pos) {
        var lo = j
        while (lo > pos && isLocalB(b(lo - 1))) lo -= 1
        if (lo < j) {
          var k = j + 1
          while (k < n && isDomB(b(k))) k += 1
          var p = k - 3
          var dot = -1
          while (dot < 0 && p >= j + 2) {
            if (b(p) == '.' && isAlphaB(b(p + 1)) && isAlphaB(b(p + 2))) dot = p
            else p -= 1
          }
          if (dot >= 0) {
            var end = dot + 3
            while (end < k && isAlphaB(b(end))) end += 1
            spans.add(lo); spans.add(end)
            pos = end
            j = end - 1 // resume the '@' scan at the match end
          }
        }
      }
      j += 1
    }
    spans
  }

  /** Phone matches: the literal prefix `+1-555-` followed by exactly four
    * digits (an exact `{4}` consumes no more even when more digits
    * follow), non-overlapping left to right. */
  private def phoneSpans(b: Array[Byte]): java.util.ArrayList[Integer] = {
    val spans = new java.util.ArrayList[Integer]()
    val n = b.length
    var i = 0
    while (i + 11 <= n) {
      if (b(i) == '+' && b(i + 1) == '1' && b(i + 2) == '-' && b(i + 3) == '5' &&
          b(i + 4) == '5' && b(i + 5) == '5' && b(i + 6) == '-' &&
          isDigitB(b(i + 7)) && isDigitB(b(i + 8)) &&
          isDigitB(b(i + 9)) && isDigitB(b(i + 10))) {
        spans.add(i); spans.add(i + 11)
        i += 11
      } else i += 1
    }
    spans
  }

  /** Replace each (start, end) span with `repl` — one output allocation,
    * straight arraycopies. */
  private def splice(b: Array[Byte], spans: java.util.ArrayList[Integer],
                     repl: Array[Byte]): Array[Byte] = {
    if (spans.isEmpty) return b
    val nSpans = spans.size / 2
    var outLen = b.length + nSpans * repl.length
    var s = 0
    while (s < nSpans) { outLen -= spans.get(2 * s + 1) - spans.get(2 * s); s += 1 }
    val out = new Array[Byte](outLen)
    var src = 0
    var dst = 0
    s = 0
    while (s < nSpans) {
      val st: Int = spans.get(2 * s)
      val en: Int = spans.get(2 * s + 1)
      System.arraycopy(b, src, out, dst, st - src); dst += st - src
      System.arraycopy(repl, 0, out, dst, repl.length); dst += repl.length
      src = en
      s += 1
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }

  private val EmailRepl = "<EMAIL>".getBytes("UTF-8")
  private val PhoneRepl = "<PHONE>".getBytes("UTF-8")

  /** The fused scrub: email count + phone count on the ORIGINAL text,
    * scrubbed text = phone-replace applied to the email-replaced text —
    * the exact composition of the declarative chain (order matters: an
    * email whose local part swallows a phone-shaped substring is counted
    * as a phone on the original but no longer present after the email
    * redaction). */
  def scrub(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val em = emailSpans(b)
    val nPhones = phoneSpans(b).size / 2
    val t1 = splice(b, em, EmailRepl)
    val t2 = splice(t1, phoneSpans(t1), PhoneRepl)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](em.size / 2, nPhones,
        org.apache.spark.unsafe.types.UTF8String.fromBytes(t2)))
  }

  /** Word-set membership index for [[profileScores]]: token → the profile
    * indexes that contain it (a token can appear in several profiles). */
  def buildProfileIndex(profiles: Seq[Seq[String]])
      : java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]]()
    profiles.zipWithIndex.foreach { case (words, li) =>
      words.foreach { w =>
        val k = org.apache.spark.unsafe.types.UTF8String.fromString(w)
        val cur = m.get(k)
        m.put(k, if (cur == null) Array(li) else cur :+ li)
      }
    }
    m
  }

  /** One-pass profile scoring, the kernel behind `text_langid`: split the
    * text on single spaces (empties kept, as `split(text, " ")` does) and
    * count, per profile, the tokens that are members of that profile's
    * word set — byte-slice token views, one hash probe per token, no
    * interpreted higher-order array functions (the declarative
    * `filter(toks, OR-chain)` per profile evaluated every lambda
    * per element and was a top-3 CPU scaler at sf10). */
  def profileScores(s: org.apache.spark.unsafe.types.UTF8String,
                    idx: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]],
                    n: Int): ArrayData = {
    val counts = new Array[Int](n)
    val b = s.getBytes
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        val langs = idx.get(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(b, start, i - start))
        if (langs != null) {
          var k = 0
          while (k < langs.length) { counts(langs(k)) += 1; k += 1 }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Winnowing fingerprint profile: polyhash every gram, slide a window of
    * `w` consecutive hashes keeping each window's minimum, distinct the
    * mins (first-occurrence order). Degenerate cases match the declarative
    * form: fewer than `w` grams → the single global min; no grams → empty.
    */
  def winnow(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = polyHash(arr.getUTF8String(i).getBytes); i += 1 }
    val out = new java.util.LinkedHashSet[Long]()
    if (n < w) {
      var m = Long.MaxValue
      i = 0
      while (i < n) { if (hs(i) < m) m = hs(i); i += 1 }
      out.add(m)
    } else {
      var j = 0
      while (j <= n - w) {
        var m = Long.MaxValue
        var k = j
        while (k < j + w) { if (hs(k) < m) m = hs(k); k += 1 }
        out.add(m)
        j += 1
      }
    }
    val res = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    new GenericArrayData(res)
  }
}

/** `graft_minhash32(array<string>) -> array<long>` — see [[Sig.minhash32]]. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // the kernel returns null for empty input even when the child is non-null
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    Sig.minhash32(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Sig.minhash32($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** `graft_simhash63(array<string>) -> long` — see [[Sig.simhash63]]. */
case class SimHash63(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Sig.simhash63(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.simhash63($c)")
  override protected def withNewChildInternal(c: Expression): SimHash63 = copy(child = c)
}

/** `graft_hyperplane_bucket8(array<double>) -> long` — see [[Sig.hyperplane8]]. */
case class HyperplaneBucket8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Sig.hyperplane8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.hyperplane8($c)")
  override protected def withNewChildInternal(c: Expression): HyperplaneBucket8 = copy(child = c)
}

/** `graft_hyperplane_code(array<double>, start, planes) -> long` — see
  * [[Sig.hyperplaneCode]]; `start`/`planes` must be foldable int
  * literals. */
case class HyperplaneCode(child: Expression, start: Int, planes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Sig.hyperplaneCode(input.asInstanceOf[ArrayData], start, planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.hyperplaneCode($c, $start, $planes)")
  override protected def withNewChildInternal(c: Expression): HyperplaneCode = copy(child = c)
}

/** `graft_ngrams(array<string>, n, distinct) -> array<string>` — see [[Sig.ngrams]]. */
case class NGrams(child: Expression, n: Int, distinct: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Sig.ngrams(input.asInstanceOf[ArrayData], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.ngrams($c, $n, $distinct)")
  override protected def withNewChildInternal(c: Expression): NGrams = copy(child = c)
}

/** `graft_term_counts(array<string>) ->
  * array<struct<term:string, tf:bigint>>` — see [[Sig.termCounts]]. */
case class TermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Sig.termCounts(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.termCounts($c)")
  override protected def withNewChildInternal(c: Expression): TermCounts = copy(child = c)
}

/** `graft_dot(array<double>, array<double>) -> double` — see [[Sig.dot]]. */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Sig.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sig.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** `graft_dotf(array<float>, array<float>) -> double` — see [[Sig.dotF]]:
  * bit-identical to `graft_dot` over exact float→double casts, half the
  * exchange bytes when the array rides a shuffle. */
case class DotProductF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Sig.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sig.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

/** `graft_l2sq(array<long>, array<long>) -> long` — see [[Sig.l2sq]]. */
case class L2Sq(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    Sig.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sig.l2sq($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
}

/** `graft_polyhash(string) -> long` — see [[Sig.polyHashStr]]. */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Sig.polyHashStr(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.polyHashStr($c)")
  override protected def withNewChildInternal(c: Expression): PolyHashExpr = copy(child = c)
}

/** `graft_hash_features(string, nBuckets) -> array<bigint>` — hashed
  * bag-of-words bucket counts; see [[Sig.hashFeatures]]. */
case class HashFeatures(child: Expression, nBuckets: Int) extends UnaryExpression {
  require(nBuckets > 0, "nBuckets must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Sig.hashFeatures(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], nBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.hashFeatures($c, $nBuckets)")
  override protected def withNewChildInternal(c: Expression): HashFeatures = copy(child = c)
}

/** `graft_token_stats(string) -> struct<n_ws_tokens:int, n_words:int,
  * n_vocab:int, n_chars:int>` — see [[Sig.tokenStats]]. */
case class TokenStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_ws_tokens", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_vocab", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Sig.tokenStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.tokenStats($c)")
  override protected def withNewChildInternal(c: Expression): TokenStats = copy(child = c)
}

/** `graft_diversity_stats(string) -> struct<n_tokens:int, n_types:int,
  * sum_cc:bigint, n_hapax:int>` — see [[Sig.diversityStats]]. */
case class DiversityStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_types", IntegerType, nullable = false),
    StructField("sum_cc", LongType, nullable = false),
    StructField("n_hapax", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Sig.diversityStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.diversityStats($c)")
  override protected def withNewChildInternal(c: Expression): DiversityStats =
    copy(child = c)
}

/** `graft_gopher_stats(string) -> struct<n_tokens:int, sum_len:int,
  * n_vocab:int, max_tf:int, n_stops:int>` — see [[Sig.gopherStats]]. The
  * stopword inventory is fixed at expression construction and shipped to
  * generated code as a reference object (the [[ProfileScores]] pattern). */
case class GopherStats(child: Expression, stops: Seq[String]) extends UnaryExpression {
  @transient private lazy val stopSet = Sig.buildStopSet(stops)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("sum_len", IntegerType, nullable = false),
    StructField("n_vocab", IntegerType, nullable = false),
    StructField("max_tf", IntegerType, nullable = false),
    StructField("n_stops", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Sig.gopherStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], stopSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("gopherStops", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.gopherStats($c, $set)")
  }
  override protected def withNewChildInternal(c: Expression): GopherStats = copy(child = c)
}

/** `graft_charclass_stats(string) -> struct<n_chars:int, n_letter:int,
  * n_digit:int, n_space:int>` — see [[Sig.charClassStats]]. */
case class CharClassStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_letter", IntegerType, nullable = false),
    StructField("n_digit", IntegerType, nullable = false),
    StructField("n_space", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Sig.charClassStats(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.charClassStats($c)")
  override protected def withNewChildInternal(c: Expression): CharClassStats =
    copy(child = c)
}

/** `graft_normalize(string) -> string` — see [[Sig.normalizeText]]. */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Sig.normalizeText(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.normalizeText($c)")
  override protected def withNewChildInternal(c: Expression): NormalizeText = copy(child = c)
}

/** `graft_scrub(string) -> struct<n_emails:int, n_phones:int,
  * scrubbed:string>` — see [[Sig.scrub]]. */
case class ScrubPii(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("scrubbed", StringType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    Sig.scrub(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.scrub($c)")
  override protected def withNewChildInternal(c: Expression): ScrubPii = copy(child = c)
}

/** `profileScores(string) -> array<int>` (one count per profile) —
  * see [[Sig.profileScores]]. The profile word sets are fixed at
  * expression construction (by each caller of
  * [[GraftFunctions.profileScores]], e.g. the language-ID profiles); the
  * membership index is built once and shipped to generated code as a
  * reference object. No SQL name. */
case class ProfileScores(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {
  @transient private lazy val index = Sig.buildProfileIndex(profiles)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Sig.profileScores(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      index, profiles.length)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("profileIdx", index, "java.util.HashMap")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Sig.profileScores($c, $idx, ${profiles.length})")
  }
  override protected def withNewChildInternal(c: Expression): ProfileScores = copy(child = c)
}

/** `graft_winnow(array<string>, w) -> array<long>` — see [[Sig.winnow]]. */
case class WinnowFingerprint(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0, "graft_winnow: window must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Sig.winnow(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sig.winnow($c, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowFingerprint = copy(child = c)
}

/** The `graft_*` expressions' two faces. Query code uses the typed
  * `Column` helpers, which build each expression directly, so a query
  * runs on any session and registers nothing. SQL text resolves the same
  * expressions by name through [[sqlFunctions]], the one table of the 19
  * `graft_*` names: [[register]] installs it in a session, and
  * [[GraftExtensions]] injects it at session build.
  */
object GraftFunctions {

  /** Resolve a registration-time scalar argument that must be a foldable
    * integer literal (e.g. `graft_hash_features(toks, 64)`). SQL callers
    * can pass TINYINT, SMALLINT, INT or BIGINT literals (or any foldable
    * integral expression); anything non-foldable or non-integral — a
    * `2.5D` is not narrowed to 2 — gets a clear
    * AnalysisException instead of a ClassCastException/NPE out of the
    * resolver.
    */
  private[graft] def intLiteral(fn: String, arg: String, e: Expression): Int = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal ($why)")
    if (!e.foldable) fail(s"got non-foldable expression ${e.sql}")
    e.eval() match {
      case null => fail("got NULL")
      case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
                _: java.lang.Long) =>
        val v = n.asInstanceOf[java.lang.Number].longValue
        if (v < Int.MinValue || v > Int.MaxValue) fail(s"$v out of int range")
        v.toInt
      case other => fail(s"got ${other.getClass.getSimpleName} literal")
    }
  }

  private def boolLiteral(fn: String, arg: String, e: Expression): Boolean =
    (e.foldable, e.eval()) match {
      case (true, b: java.lang.Boolean) => b.booleanValue
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a boolean literal")
    }

  private def fn(name: String, usage: String)(build: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      build)

  /** The SQL surface: name, usage and builder of every `graft_*` function. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_minhash32", "_FUNC_(array<string>) - 32-permutation MinHash signature")(
      a => MinHashSig(a(0))),
    fn("graft_simhash63", "_FUNC_(array<string>) - 63-bit SimHash")(
      a => SimHash63(a(0))),
    fn("graft_hyperplane_bucket8", "_FUNC_(array<double>) - 8-plane LSH bucket id")(
      a => HyperplaneBucket8(a(0))),
    fn("graft_hyperplane_code", "_FUNC_(array<double>, start, planes) - n-plane LSH code over planes [start, start+planes) (start=0 is prefix-compatible with the 8-plane bucket)")(
      a => HyperplaneCode(a(0), intLiteral("graft_hyperplane_code", "start", a(1)),
        intLiteral("graft_hyperplane_code", "planes", a(2)))),
    fn("graft_dot", "_FUNC_(array<double>, array<double>) - sequential dot product")(
      a => DotProduct(a(0), a(1))),
    fn("graft_dotf", "_FUNC_(array<float>, array<float>) - sequential dot product accumulated in double")(
      a => DotProductF(a(0), a(1))),
    fn("graft_l2sq", "_FUNC_(array<bigint>, array<bigint>) - squared L2 distance")(
      a => L2Sq(a(0), a(1))),
    fn("graft_term_counts", "_FUNC_(array<string>) - per-term counts as array<struct<term,tf>>")(
      a => TermCounts(a(0))),
    fn("graft_ngrams", "_FUNC_(array<string>, n, distinct) - word n-gram shingles")(
      a => NGrams(a(0), intLiteral("graft_ngrams", "n", a(1)),
        boolLiteral("graft_ngrams", "distinct", a(2)))),
    fn("graft_topk", "_FUNC_(struct<score,id>, k[, dedupe_ids]) - bounded-heap top-k aggregate")(
      a => TopKByScore(a(0), intLiteral("graft_topk", "k", a(1)),
        a.length > 2 && boolLiteral("graft_topk", "dedupe_ids", a(2)))),
    fn("graft_polyhash", "_FUNC_(string) - portable polynomial string hash")(
      a => PolyHashExpr(a(0))),
    fn("graft_normalize", "_FUNC_(string) - lowercase, punctuation-stripped, space-collapsed text")(
      a => NormalizeText(a(0))),
    fn("graft_token_stats", "_FUNC_(string) - whitespace/word/distinct token counts")(
      a => TokenStats(a(0))),
    fn("graft_hash_features", "_FUNC_(string, nBuckets) - hashed bag-of-words counts")(
      a => HashFeatures(a(0), intLiteral("graft_hash_features", "nBuckets", a(1)))),
    fn("graft_gopher_stats", "_FUNC_(string) - Gopher quality-rule token statistics")(
      a => GopherStats(a(0), Sig.GopherStops)),
    fn("graft_diversity_stats", "_FUNC_(string) - lexical diversity statistics")(
      a => DiversityStats(a(0))),
    fn("graft_charclass_stats", "_FUNC_(string) - letter/digit/space character counts")(
      a => CharClassStats(a(0))),
    fn("graft_scrub", "_FUNC_(string) - email/phone counts and the PII-scrubbed text")(
      a => ScrubPii(a(0))),
    fn("graft_winnow", "_FUNC_(array<string>, w) - winnowing fingerprint mins")(
      a => WinnowFingerprint(a(0), intLiteral("graft_winnow", "window", a(1)))))

  /** Install [[sqlFunctions]] in `spark` for SQL text; names the session
    * already has are left as they are, so repeated calls are no-ops. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }

  def minhash32(c: Column): Column = kernel(c)(e => MinHashSig(e(0)))
  def simhash63(c: Column): Column = kernel(c)(e => SimHash63(e(0)))
  def hyperplaneBucket8(c: Column): Column = kernel(c)(e => HyperplaneBucket8(e(0)))
  def hyperplaneCode(c: Column, start: Int, planes: Int): Column =
    kernel(c)(e => HyperplaneCode(e(0), start, planes))
  def dotp(a: Column, b: Column): Column = kernel(a, b)(e => DotProduct(e(0), e(1)))
  def dotpf(a: Column, b: Column): Column = kernel(a, b)(e => DotProductF(e(0), e(1)))
  def l2sq(a: Column, b: Column): Column = kernel(a, b)(e => L2Sq(e(0), e(1)))
  def termCounts(toks: Column): Column = kernel(toks)(e => TermCounts(e(0)))
  def ngrams(toks: Column, n: Int, distinct: Boolean): Column =
    kernel(toks)(e => NGrams(e(0), n, distinct))
  /** Bounded-heap top-k aggregate — see [[TopKByScore]]. */
  def topk(scoreAndId: Column, k: Int, dedupeIds: Boolean = false): Column =
    kernel(scoreAndId)(e => TopKByScore(e(0), k, dedupeIds).toAggregateExpression())
  def polyhash(c: Column): Column = kernel(c)(e => PolyHashExpr(e(0)))
  def normalize(c: Column): Column = kernel(c)(e => NormalizeText(e(0)))
  def tokenStats(c: Column): Column = kernel(c)(e => TokenStats(e(0)))
  def hashFeatures(c: Column, nBuckets: Int): Column =
    kernel(c)(e => HashFeatures(e(0), nBuckets))
  def gopherStats(c: Column): Column = kernel(c)(e => GopherStats(e(0), Sig.GopherStops))
  def diversityStats(c: Column): Column = kernel(c)(e => DiversityStats(e(0)))
  def charClassStats(c: Column): Column = kernel(c)(e => CharClassStats(e(0)))
  def scrub(c: Column): Column = kernel(c)(e => ScrubPii(e(0)))
  def winnow(grams: Column, w: Int): Column = kernel(grams)(e => WinnowFingerprint(e(0), w))
  /** Per-profile hit counts — see [[ProfileScores]]; no SQL name, the
    * profiles are fixed by the caller. */
  def profileScores(text: Column, profiles: Seq[Seq[String]]): Column =
    kernel(text)(e => ProfileScores(e(0), profiles))
}
