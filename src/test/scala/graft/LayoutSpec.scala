package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write-side data-skipping layouts: disjoint per-file clustering is what
  * lets parquet footer stats prune scans at 100 TB.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq

  test("range layout produces disjoint per-file key ranges") {
    val dir = SparkTestSession.tempDir("graft_range")
    val orders = Tables.orders(spark, sf)
    Layout.writeRangeLayout(orders, "o_orderkey", 8, dir)
    val files = partFiles(dir)
    assert(files.size == 8)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("o_orderkey"), max("o_orderkey")).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "file key ranges overlap")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == orders.count())
  }

  test("morton code interleaves bits as documented") {
    // reference: spread(3)=0b101=5, spread(5)=0b10001=17, z=5+2*17=39
    val z = spark.range(1)
      .select(Layout.mortonCode(lit(3L), lit(5L)).as("z")).first().getLong(0)
    assert(z == 39L)
  }

  test("morton layout clusters both dimensions into disjoint z ranges") {
    val dir = SparkTestSession.tempDir("graft_z")
    // balanced 64×64 grid: both dims have equal range, the case z-order
    // exists for (one-key sorting would leave the other dim unclustered)
    val grid = spark.range(4096)
      .select((col("id") % 64).as("x"), expr("id div 64").as("y"))
    Layout.writeMortonLayout(grid, "x", "y", 16, dir)
    val files = partFiles(dir)
    assert(files.size == 16)
    // per-file z ranges (recomputed from the stored rows) must be disjoint
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .select(Layout.mortonCode(col("x"), col("y")).as("z"))
        .agg(min("z"), max("z")).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, "file z ranges overlap")
      case _ =>
    }
    // BOTH dimensions cluster: per-file spans stay well under the global
    // 0..63 range (a single-key sort would leave one dim at full span)
    Seq("x", "y").foreach { dim =>
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(min(dim), max(dim)).first()
        r.getLong(1) - r.getLong(0)
      }
      assert(spans.sum <= files.size * 32,
        s"$dim not clustered by z-order: spans=$spans")
    }
    assert(spark.read.parquet(dir).count() == 4096)
  }
}
