package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // keep saveAsTable artifacts (bucketing specs) out of the repo tree
    .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
    .getOrCreate()

  private val created = new ConcurrentLinkedQueue[File]()

  // One hook deletes every file and directory made here, contents included
  // (File.deleteOnExit skips a directory that is not empty).
  Runtime.getRuntime.addShutdownHook(new Thread(() => created.forEach(deleteTree)))

  private def deleteTree(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    created.add(d)
    d.toString
  }

  /** A new empty file, deleted by the same hook. */
  def tempFile(prefix: String, suffix: String): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile(prefix, suffix)
    created.add(f.toFile)
    f
  }
}
