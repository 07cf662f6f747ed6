package graft.tools

import graft.GraftConfig
import graft.compact.Compactor

/** CLI compaction entrypoint — the cron-job face of
  * [[graft.compact.Compactor]] (reference:
  * src/main/scala/com/scality/clueso/tools/MetadataTableCompactorTool.scala:1-37 —
  * conf file + partition count in, optional single bucket, optional force).
  *
  * Usage: spark-submit --class graft.tools.CompactorTool <jar>
  *          <path/to/graft.conf> <numPartitions> [<bucket>] [<force>]
  *
  * The conf file is [[GraftConfig.fromFile]] HOCON; zone dirs and the
  * purge tolerance come from it. Per-bucket failures are reported on
  * stderr and the exit status is non-zero if ANY bucket failed — a cron
  * wrapper must see a red run, while one locked bucket still must not
  * starve the rest (the per-bucket isolation lives in
  * [[Compactor.compactAll]]).
  */
object CompactorTool {

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Testable body: returns the process exit code instead of calling
    * `sys.exit`, and leaves the (possibly shared) session running. */
  def run(args: Array[String]): Int = {
    def usage(): Int = {
      System.err.println(
        "usage: CompactorTool <path/to/graft.conf> <numPartitions> [<bucket>] [<force>]")
      2
    }
    if (args.length < 2 || args.length > 4) return usage()
    // malformed numeric/boolean args are operator mistakes too — they get
    // the usage exit (2), not the "a bucket failed" exit (1)
    val (numPartitions, force) =
      try (args(1).toInt,
        if (args.length > 3) args(3).toBoolean else false)
      catch { case _: IllegalArgumentException => return usage() }
    val conf = GraftConfig.fromFile(args(0))
    val bucket = if (args.length > 2) Some(args(2)) else None
    val spark = GraftConfig.cliSession("graft-compactor")
    val compactor = new Compactor(spark, conf.landingDir, conf.stagingDir,
      conf.purgeToleranceMs)
    val failures: Map[String, Throwable] = bucket match {
      case Some(b) =>
        try { compactor.compactBucket(b, numPartitions, force); Map.empty }
        catch { case scala.util.control.NonFatal(e) => Map(b -> e) }
      case None => compactor.compactAll(numPartitions, force)
    }
    failures.foreach { case (b, e) =>
      System.err.println(s"[compactor] bucket $b failed: ${e.getMessage}")
    }
    if (failures.isEmpty) 0 else 1
  }
}
