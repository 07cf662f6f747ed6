package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic primitives.
  *
  * Every hash / fold here is pure 64-bit integer (or order-fixed double)
  * arithmetic built only from operations that Spark and DuckDB define
  * identically, so the DuckDB oracle can recompute the exact same values:
  * MinHash signatures, SimHash bits and LSH bucket ids are *bit-equal*
  * across engines, which lets approximate-dedup pipelines be gated by the
  * exact-hash correctness check instead of a weak rows-only check.
  *
  * Each Spark `Column` builder is paired with a `...Sql` builder emitting
  * the equivalent DuckDB expression from the same constants.
  */
object Portable {
  /** Modulus for all polynomial / universal hashes (largest prime < 2^30
    * keeps every intermediate product within Long range). */
  val P = 1000000007L
  val Seed = 7L

  // ---------------------------------------------------------------- polyhash
  /** Sequential polynomial rolling hash over the characters of `s`.
    * Codegen-friendly: one `aggregate` fold, no UDF, no shuffle. */
  def polyHash(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c).cast("long")),
      lit(Seed),
      (acc, c) => (acc * 31L + c) % P)

  /** Same fold on the JVM (for typed `mapPartitions` stages). Only valid
    * for single-byte (ASCII) text, same as the SQL forms. */
  def polyHashJvm(s: String): Long =
    s.foldLeft(Seed)((acc, c) => (acc * 31L + c.toLong) % P)

  def polyHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST($Seed AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, c) -> (acc * 31 + c) % $P)"

  // ------------------------------------------------- universal hash family
  /** j-th universal hash of an already-hashed value `h`:
    * `(a_j * h + b_j) mod P` with `a_j = (j+1)*1000003 mod P`,
    * `b_j = j*999983 + 12345 mod P`. */
  def hashJ(h: Column, j: Column): Column =
    (((j + 1) * 1000003L % P) * h + (j * 999983L + 12345L) % P) % P

  def hashJSql(h: String, j: String): String =
    s"(((($j + 1) * 1000003) % $P) * ($h) + (($j * 999983 + 12345) % $P)) % $P"

  // ------------------------------------------------------------- cubic mixer
  /** Nonlinear diffusion of an already-hashed value: `h^3 mod P`. Cubing is
    * a PERMUTATION of Z_P (gcd(3, P-1) = 1) that destroys the linear/lattice
    * structure affine maps preserve — polynomial hashes of short strings
    * occupy only the low end of [0, P), which ruins order-statistics uses
    * (KMV sketches); their cubes equidistribute. Both factors stay within
    * Long range ((P-1)^2 < 2^63). */
  def mixCube(h: Column): Column = h * h % P * h % P

  def mixCubeSql(h: String): String = s"((($h) * ($h) % $P) * ($h)) % $P"

  // ---------------------------------------------------------------- shingles
  /** Distinct word-`n`-gram shingles of a token array (empty when the doc
    * is shorter than `n` tokens). */
  def shingles3(toks: Column): Column =
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3), i =>
          concat_ws(" ",
            element_at(toks, i + 1),
            element_at(toks, i + 2),
            element_at(toks, i + 3))))
        .otherwise(array().cast("array<string>")))

  /** DuckDB twin of [[shingles3]]; `t` must be a `string_split` list. */
  def shingles3Sql(t: String): String =
    s"list_distinct([$t[i] || ' ' || $t[i+1] || ' ' || $t[i+2] " +
      s"for i in range(1, len($t) - 1)])"

  // ------------------------------------------- random-hyperplane projection
  /** Pseudo-random ±1 hyperplane coefficient for plane `p`, dimension `i`
    * — parity of the CUBED universal hash. The cube mixer is load-bearing:
    * the parity of the affine `hashJ` itself is (for arguments that don't
    * wrap past P) just the parity of an affine form — measured on the
    * first 24 planes it made planes 1/3/5/7 ALL-(+1) and planes 0/2/4/6
    * identical, so the "256-bucket" 8-plane LSH produced only 4 distinct
    * buckets and every bucket self-join was silently quadratic (N²/4).
    * Cubing mod P before the parity destroys that affine structure
    * ([[mixCube]]'s permutation argument); the 24 cubed-parity planes
    * measure pairwise-uncorrelated and per-plane balanced. */
  def planeSign(p: Int, i: Column): Column =
    when(mixCube(hashJ(i + 13L, lit(p.toLong))) % 2 === 0, lit(1.0)).otherwise(lit(-1.0))

  def planeSignSql(p: Int, i: String): String =
    s"(CASE WHEN (${mixCubeSql(hashJSql(s"$i + 13", p.toString))}) % 2 = 0 THEN 1.0 ELSE -1.0 END)"

  // --------------------------------------------------- order-fixed doubles
  /** Strictly-sequential double sum of an array — the fold order is pinned
    * so Spark and DuckDB produce bit-identical IEEE results. */
  def seqSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  def seqSumSql(arr: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $arr), (acc, x) -> acc + x)"

  /** Cast a float array to double (oracle twin: `CAST(x AS DOUBLE)` per
    * element) so all similarity math runs in identical double precision. */
  def toDouble(arr: Column): Column = transform(arr, _.cast("double"))

  /** Sequential dot product of two equal-length double arrays. */
  def dot(a: Column, b: Column): Column = seqSum(zip_with(a, b, (x, y) => x * y))

  def dotSql(a: String, b: String, dim: Int): String =
    seqSumSql(s"list_transform(range($dim), k -> " +
      s"CAST($a[k+1] AS DOUBLE) * CAST($b[k+1] AS DOUBLE))")

  /** L2 norm via the same sequential fold. */
  def l2normSql(a: String, dim: Int): String =
    s"sqrt(${seqSumSql(s"list_transform(range($dim), k -> " +
      s"CAST($a[k+1] AS DOUBLE) * CAST($a[k+1] AS DOUBLE))")})"
}
