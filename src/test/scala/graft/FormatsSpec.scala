package graft

import graft.sources.Formats
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Interchange formats: round-trip fidelity, malformed-row quarantine,
  * and ORC predicate pushdown (the scan property that keeps a format
  * switch from degrading range scans into full scans at 100 TB).
  */
class FormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    SparkTestSession.tempDir(prefix)

  private def rowHash(df: org.apache.spark.sql.DataFrame): Long = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    df.agg(bit_xor(xxhash64(cols: _*))).head().getLong(0)
  }

  test("ORC round-trip preserves rows and pushes key predicates to the scan") {
    val src = Tables.customer(spark, sf)
    val dir = tmp("graft_orc")
    Formats.writeOrc(src, dir)
    val back = Formats.readOrc(spark, dir)
    assert(back.count() == src.count())
    assert(rowHash(back) == rowHash(src))

    val q = back.filter(col("c_custkey") < 50).select("c_custkey", "c_name")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan in ORC plan"))
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThan(c_custkey,50)"),
      s"predicate not pushed to ORC: $pushed")
    assert(scan.requiredSchema.fieldNames.toSet == Set("c_custkey", "c_name"))
  }

  test("CSV round-trip against a pinned schema preserves values") {
    val src = Tables.nation(spark, sf)
    val dir = tmp("graft_csv")
    Formats.writeCsv(src, dir)
    val schema = StructType(new StructType()
      .add("n_nationkey", LongType).add("n_name", StringType)
      .add("n_regionkey", LongType))
    val back = Formats.cleanRows(Formats.readCsv(spark, dir, schema))
      .select(src.columns.map(col).toIndexedSeq: _*)
    // bare count() would prune to the corrupt-only column set, which Spark
    // rejects on raw csv/json scans — count a data column instead
    assert(back.agg(count("n_nationkey")).head().getLong(0) == src.count())
    // CSV carries no types: compare on the string render of each row
    val asStr = (df: org.apache.spark.sql.DataFrame) =>
      df.select(concat_ws("|", df.columns.sorted.map(c => col(c).cast("string")).toIndexedSeq: _*))
        .as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().sorted.toSeq
    assert(asStr(back) == asStr(src.select(
      col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))))
  }

  test("JSONL round-trip preserves values; malformed lines quarantine not crash") {
    val src = Tables.documents(spark, sf).select("doc_id", "lang", "source")
    val dir = tmp("graft_jsonl")
    Formats.writeJsonl(src, dir)
    val schema = StructType(new StructType()
      .add("doc_id", LongType).add("lang", StringType).add("source", StringType))
    val back = Formats.cleanRows(Formats.readJsonl(spark, dir, schema))
      .select("doc_id", "lang", "source")
    assert(back.agg(count("doc_id")).head().getLong(0) == src.count())
    assert(rowHash(back) == rowHash(src))

    // inject garbage lines into a fresh dir alongside valid JSON
    val mixed = tmp("graft_jsonl_bad")
    import spark.implicits._
    Seq("""{"doc_id": 1, "lang": "en", "source": "web"}""",
      """{"doc_id": oops not json""",
      """plain garbage""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(mixed)
    val readBack = Formats.readJsonl(spark, mixed, schema)
    assert(Formats.cleanRows(readBack).agg(count("doc_id")).head().getLong(0) == 1)
    assert(Formats.corruptRows(readBack).count() == 2)
    readBack.unpersist()

    // one-checkpoint-for-both-views: a pre-checkpointed parse feeds BOTH
    // helpers without corruptRows checkpointing a second time. Compare RDD
    // id SETS, not absolute counts — the async ContextCleaner can drop a
    // stale RDD from an earlier test between two measurements (observed
    // flake), while NEW ids appearing is exactly what this pins.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val ck = Formats.readJsonl(spark, mixed, schema).localCheckpoint()
    val afterCk = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert((afterCk -- before).size == 1, "localCheckpoint must persist exactly one RDD")
    assert(Formats.corruptRows(ck).count() == 2)
    assert(Formats.cleanRows(ck).agg(count("doc_id")).head().getLong(0) == 1)
    val afterUse = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert((afterUse -- afterCk).isEmpty,
      "shared checkpoint must be the ONLY materialization behind both views")
    ck.unpersist()
  }

  test("lenient parquet read skips a corrupt file instead of failing the scan") {
    val dir = tmp("graft_lenient")
    val src = Tables.nation(spark, sf)
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    // drop a truncated garbage "parquet" file into the dataset
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-corrupt.snappy.parquet"),
      "PAR1 this is not a real footer".getBytes)
    // default read fails loudly...
    intercept[org.apache.spark.SparkException] {
      spark.read.parquet(dir).count()
    }
    // ...the lenient read returns every row of the intact files
    assert(Formats.readParquetLenient(spark, dir).count() == src.count())
  }
}
