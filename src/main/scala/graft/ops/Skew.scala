package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for the cases AQE can't fix.
  *
  * AQE's runtime skew-join splitting (on by default) handles sort-merge
  * joins; this helper covers the remaining pattern:
  *
  *  - [[saltedJoin]]: equi-join where one side has pathological key skew
  *    and the other is too large to broadcast — salt the skewed side,
  *    replicate the other over the salt domain, join on (key, salt). Each
  *    hot key's rows spread over `saltFactor` shuffle partitions instead
  *    of one.
  */
object Skew {

  /** Deterministic spreading salt: full-row hash modulo `factor` (rows of
    * the same hot key differ somewhere, so they spread; identical rows
    * co-locate, which is harmless).
    */
  private def salt(df: DataFrame, factor: Int): Column =
    pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)), lit(factor))

  /** Inner equi-join of `skewed` with `other` on `key`, with the skewed
    * side salted and the other side replicated `saltFactor`×.
    */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 saltFactor: Int): DataFrame = {
    val s = skewed.withColumn("__salt", salt(skewed, saltFactor))
    val o = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor - 1L))))
    s.join(o, Seq(key, "__salt")).drop("__salt")
  }
}
