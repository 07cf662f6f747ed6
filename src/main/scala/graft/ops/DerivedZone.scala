package graft.ops

import java.security.MessageDigest
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** On-disk, write-once store for derived artifacts keyed by the
  * fingerprint of their input tables — the compactor's staging-zone
  * pattern (reference: TableFilesCompactor.scala:137-194 writes compacted
  * parquet once; MetadataQueryExecutor.scala:157-210 reads it back)
  * applied to the expensive shared stages of the analytics families
  * (near-dup pair lists, cluster labels, the parsed op-log projection).
  *
  * It is the one way graft reuses derived work: every shared stage is
  * built once per DATASET, not once per session. The first session to
  * need an artifact builds it and publishes it as parquet under
  * `<root>/<artifact>/<md5(key)>/<fingerprint>/`; every later session —
  * including a fresh JVM — revalidates the input fingerprint and serves
  * the published files with ZERO rebuild jobs. An in-place rewrite of the
  * inputs changes the fingerprint, so a new build publishes beside the
  * stale one (which is then pruned), never over it. A build closure may
  * `localCheckpoint` its own intermediates: the published parquet is the
  * durable cut, and no caller ever sees the checkpointed frame.
  *
  * ==Append-aware incremental refresh==
  * At 100 TB the dominant input mutation is APPEND (one more ingested
  * events file), and a full zone rebuild that re-parses the whole op-log
  * for a one-file delta is work ∝ corpus, not ∝ delta. Zones accessed via
  * [[getAppendAware]] therefore publish a GENERATION CHAIN — the same
  * incremental contract the reference's compactor has with its staging
  * zone (TableFilesCompactor.scala:137-194: new groups land beside
  * already-compacted ones; readers see the union):
  *
  *  - every published generation records its exact input-file manifest
  *    (`_graft_inputs`: each data file's path/len/mtime) and its ancestor
  *    fingerprints (`_graft_parents`);
  *  - when the current input state is a strict FILE-SUPERSET of a
  *    published generation (old files byte-identical, new files added),
  *    only the delta files are parsed — jobs ∝ delta — and published as a
  *    child generation whose parents are served alongside it;
  *  - any non-append change (rewrite, delete, mtime drift) or a chain
  *    longer than [[DerivedZone.MaxChain]] falls back to a full rebuild
  *    (the zone's own compaction), so chains stay short and reads cheap;
  *  - the read path unions the chain's partitioned parquet dirs; pruning
  *    keeps every ancestor of the live generation and only purges
  *    fingerprints outside the live chain (after the usual grace window).
  *
  * Serving the READ-BACK frame (not the built one) is deliberate, twice
  * over: the artifact's blocks don't pin executor storage for the session
  * lifetime, and downstream predicates push into a real parquet scan —
  * including partition pruning when `partitionCols` is set (the op-log
  * zone partitions by op-group range, so an as-of watermark prunes whole
  * directories before any merge work happens). Partition pruning survives
  * the generation union: each generation is its own partitioned scan and
  * the filter pushes into every branch.
  *
  * Publish is atomic: build → write to a hidden `.tmp-*` sibling (schema
  * sidecar included, since parquet alone loses column order and partition
  * column types) → rename into place. A lost race deletes its tmp and
  * serves the winner's files.
  *
  * Inputs: table files under the queried dir, which is the key (`tables`),
  * or paths and a key the caller gives (a search bucket's landing and
  * staging partitions). A build runs under a PER-KEY lock, not inside
  * `ConcurrentHashMap.compute`, where it would block every key in its bin.
  *
  * @param artifact      stable name of the derived stage (directory key)
  * @param tables        input table file names under the queried dir whose
  *                      on-disk state the artifact derives from (`Nil` for a
  *                      zone read only through the key-and-inputs [[get]])
  * @param partitionCols columns to partition the published parquet by
  * @param rev           revision of the BUILD LOGIC, folded into the zone
  *                      fingerprint — the data fingerprint alone cannot
  *                      see a code change, and a long-lived zone root
  *                      (that is the point of it) would otherwise serve
  *                      artifacts built by superseded logic. Bump on any
  *                      semantic change to the build; the stale zone is
  *                      pruned on the next publish.
  */
private[graft] final class DerivedZone(artifact: String, tables: Seq[String],
                                       partitionCols: Seq[String] = Nil,
                                       rev: Int = 1) {

  private final case class Entry(fp: String, df: DataFrame)
  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()
  private val locks = new ConcurrentHashMap[(SparkSession, String), Object]()

  /** FULL artifacts built (not served from disk or memory) by this
    * process — the spec hook for "a fresh session rebuilds nothing". */
  val builds = new AtomicLong(0)

  /** Incremental (delta-only) generations built by this process. */
  val deltaBuilds = new AtomicLong(0)

  /** Artifacts served from a published zone this instance didn't write. */
  val diskHits = new AtomicLong(0)

  def get(spark: SparkSession, dir: String)(build: => DataFrame): DataFrame =
    get(spark, dir, tables.map(t => s"$dir/$t"))(build)

  /** The artifact of the files under `inputs`, published under `key`. */
  def get(spark: SparkSession, key: String, inputs: Seq[String])(
      build: => DataFrame): DataFrame =
    fetch(spark, key, inputs, None)(build)

  /** [[get]] plus the append-aware incremental path: `deltaBuild` must
    * produce, from ONLY the given new input files, rows identical to what
    * the full `build` would produce for them (same projection, same
    * schema). Correct for record-wise parses of append-only inputs (the
    * op-log case); aggregation-shaped builds must use plain [[get]]. */
  def getAppendAware(spark: SparkSession, dir: String)(build: => DataFrame)(
      deltaBuild: Seq[String] => DataFrame): DataFrame =
    fetch(spark, dir, tables.map(t => s"$dir/$t"), Some(deltaBuild))(build)

  private def fetch(spark: SparkSession, key: String, inputs: Seq[String],
                    deltaBuild: Option[Seq[String] => DataFrame])
                   (build: => DataFrame): DataFrame = {
    // Hygiene for long-lived drivers (the SearchServer shape): entries key
    // by session, and a stopped session's frames are dead weight that
    // would otherwise accumulate forever. O(sessions×keys) — tiny.
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    locks.keySet.removeIf(_._1.sparkContext.isStopped)
    val inputEntries = DerivedZone.listEntries(spark, inputs)
    val fp = DerivedZone.md5(s"r$rev:" + DerivedZone.md5(inputEntries.mkString("\n")))
    val k = (spark, key)
    def current: Option[DataFrame] = Option(entries.get(k)).filter(_.fp == fp).map(_.df)
    current.getOrElse(locks.computeIfAbsent(k, _ => new Object).synchronized {
      current.getOrElse {
        val df = load(spark, key, fp, inputEntries, deltaBuild)(build)
        entries.put(k, Entry(fp, df))
        df
      }
    })
  }

  private def load(spark: SparkSession, key: String, fp: String,
                   inputEntries: Seq[String],
                   deltaBuild: Option[Seq[String] => DataFrame])
                  (build: => DataFrame): DataFrame = {
    val zone = new Path(DerivedZone.root(spark), s"$artifact/${DerivedZone.md5(key)}")
    val fs = zone.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(zone, fp)
    val sidecar = new Path(target, DerivedZone.SchemaFile)
    if (fs.exists(sidecar)) diskHits.incrementAndGet()
    else {
      val parent = deltaBuild.flatMap(_ =>
        DerivedZone.findParent(fs, zone, inputEntries))
      val (df, parents, sidecarContent) = parent match {
        case Some(p) =>
          deltaBuilds.incrementAndGet()
          DerivedZone.processBuilds.incrementAndGet()
          val newPaths = {
            val old = p.entries.toSet
            inputEntries.filterNot(old).map(DerivedZone.entryPath)
          }
          val d = deltaBuild.get(newPaths)
          // delta generations must be plan-compatible with their
          // ancestors — a drifted projection would poison the unioned
          // read. Names + types must match (nullability may legitimately
          // differ between a full parse and a file-subset parse); the
          // child inherits the parent's sidecar verbatim so the whole
          // chain reads under ONE schema.
          val parentSchema = DataType.fromJson(p.sidecar.split("\n")(0))
            .asInstanceOf[StructType]
          require(d.schema.map(f => (f.name, f.dataType)) ==
              parentSchema.map(f => (f.name, f.dataType)),
            s"append-aware build for $artifact produced ${d.schema.simpleString}, " +
              s"parent generation has ${parentSchema.simpleString}")
          (d, p.ancestors :+ p.fp, p.sidecar)
        case None =>
          builds.incrementAndGet()
          DerivedZone.processBuilds.incrementAndGet()
          val d = build
          (d, Nil, d.schema.json + "\n" + d.columns.mkString(","))
      }
      val tmp = new Path(zone, s".tmp-${UUID.randomUUID()}")
      val writer = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
        .parquet(tmp.toString)
      DerivedZone.writeString(fs, new Path(tmp, DerivedZone.InputsFile),
        inputEntries.mkString("\n"))
      if (parents.nonEmpty)
        DerivedZone.writeString(fs, new Path(tmp, DerivedZone.ParentsFile),
          parents.mkString("\n"))
      // the sidecar is written LAST inside tmp and checked FIRST by
      // readers, so a half-written zone is never served
      DerivedZone.writeString(fs, new Path(tmp, DerivedZone.SchemaFile),
        sidecarContent)
      if (fs.exists(target) || !fs.rename(tmp, target)) {
        // lost the publish race to a concurrent session — serve the winner
        fs.delete(tmp, true)
        require(fs.exists(sidecar), s"derived zone $target vanished mid-publish")
      } else DerivedZone.pruneSuperseded(fs, zone,
        parents.toSet + fp, DerivedZone.purgeGraceMs(spark))
    }
    val lines = DerivedZone.readString(fs, sidecar).split("\n")
    val schema = DataType.fromJson(lines(0)).asInstanceOf[StructType]
    val cols = lines(1).split(",").toIndexedSeq.map(col)
    val chain = DerivedZone.readParents(fs, target) :+ fp
    // explicit schema: partition-column types survive the round trip
    // (dir-name inference would narrow a long op-group to int); explicit
    // select: partitioned reads reorder columns. Each generation is its
    // own partitioned root, so pushed partition filters prune per branch.
    chain.map { g =>
      spark.read.schema(schema).parquet(new Path(zone, g).toString).select(cols: _*)
    }.reduce(_ unionAll _)
  }

  def clear(): Unit = entries.clear()
}

private[graft] object DerivedZone {

  /** Zone builds (full or delta) by this PROCESS, across every artifact —
    * the cross-round bench decomposition hook: Bench samples this before
    * and after each timed query and emits a per-query `zone_built` flag,
    * so a warm-vs-cold wall-time delta can be attributed mechanically to
    * first-touch zone materialization instead of by narrative. */
  private[graft] val processBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  private[ops] val SchemaFile = "_graft_schema.json"
  private[ops] val InputsFile = "_graft_inputs"
  private[ops] val ParentsFile = "_graft_parents"
  private[ops] val SupersededFile = "_graft_superseded"

  /** Chain-length bound for append-aware zones: past this, refresh falls
    * back to a full rebuild (zone self-compaction) so reads never union
    * an unbounded directory list. */
  private[ops] val MaxChain = 8

  private[ops] final case class Parent(fp: String, entries: Seq[String],
                                       ancestors: Seq[String], sidecar: String)

  /** The best incremental base among published generations: a generation
    * whose recorded input files are a strict subset of the current ones
    * (pure append since it was built), with the LARGEST file count (the
    * closest ancestor — smallest delta), whose chain is still under
    * [[MaxChain]] and fully present on disk. */
  private[ops] def findParent(fs: FileSystem, zone: Path,
                              current: Seq[String]): Option[Parent] = {
    val cur = current.toSet
    val candidates =
      try fs.listStatus(zone).toSeq catch { case _: java.io.IOException => Nil }
    candidates
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        try {
          val inputsP = new Path(st.getPath, InputsFile)
          val sidecarP = new Path(st.getPath, SchemaFile)
          if (!fs.exists(inputsP) || !fs.exists(sidecarP)) None
          else {
            val entries = readString(fs, inputsP).split("\n").toSeq.filter(_.nonEmpty)
            val ancestors = readParents(fs, st.getPath)
            val chainOk = ancestors.size + 1 < MaxChain &&
              ancestors.forall(a => fs.exists(new Path(new Path(zone, a), SchemaFile)))
            if (chainOk && entries.nonEmpty && entries.size < cur.size &&
                entries.forall(cur))
              Some(Parent(st.getPath.getName, entries, ancestors,
                readString(fs, sidecarP)))
            else None
          }
        } catch { case _: java.io.IOException => None }
      }
      .sortBy(-_.entries.size)
      .headOption
  }

  private[ops] def readParents(fs: FileSystem, gen: Path): Seq[String] = {
    val p = new Path(gen, ParentsFile)
    if (!fs.exists(p)) Nil
    else readString(fs, p).split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Zone root: `spark.graft.derived.dir` when set, else a PER-PROCESS
    * directory under the system temp dir, removed on JVM exit.
    *
    * The default is deliberately process-scoped: within one process the
    * zone still amortizes a shared build across every query that needs
    * it (and across sessions of that process), but a fresh invocation
    * always recomputes from the source parquet — benchmark and
    * verification runs can never be accelerated by artifacts a previous
    * run left behind. Deployments that WANT cross-job reuse (the
    * compactor's staging-zone economics on a long-lived warehouse) opt
    * in by pointing `spark.graft.derived.dir` at durable shared storage
    * (see conf/graft.conf.example); the fingerprint revalidation logic
    * is identical either way.
    */
  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.derived.dir").getOrElse(processDefaultRoot)

  private lazy val processDefaultRoot: String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-derived-${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }))
    dir
  }

  /** Driver-side identity of on-disk table state: every data file's
    * (path, length, mtime), sorted and hashed. A metadata-only listing —
    * no data is read — so the check is microseconds on a local FS and one
    * round-trip per table on an object store.
    *
    * ==Granularity caveat==
    * mtime resolution is filesystem-dependent (1 s on several local
    * stores, coarser on some object stores), so an in-place rewrite that
    * preserves every file name AND length within one mtime tick is not
    * detected. Spark's own writers make this practically unreachable
    * (part files carry a fresh job/task UUID in the name, so any rewrite
    * changes paths), but a byte-patching writer that edits files in place
    * must `clear()` the affected zones after such a rewrite (e.g.
    * [[graft.analytics.Dedup.clearMemos]]).
    */
  def fingerprint(spark: SparkSession, paths: Seq[String]): String =
    md5(listEntries(spark, paths).mkString("\n"))

  /** The sorted per-file identity entries behind [[fingerprint]] —
    * exposed so the append-aware path can compare file SETS
    * (old ⊂ new ⇒ pure append) rather than only their hash. */
  def listEntries(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    paths.foreach { raw =>
      val p = new Path(raw)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) parts += s"$raw:absent"
      else {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val s = it.next()
          val name = s.getPath.getName
          // _SUCCESS / _spark_metadata and friends carry no data
          if (!name.startsWith("_") && !name.startsWith(".")) {
            parts += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
          }
        }
      }
    }
    parts.sorted.toSeq
  }

  /** Total on-disk bytes of the data files under `paths` — the
    * driver-side input-size measurement behind size-derived shuffle
    * widths (metadata-only, no Spark jobs). */
  def dataBytes(spark: SparkSession, paths: Seq[String]): Long =
    listEntries(spark, paths).iterator.filterNot(_.endsWith(":absent")).map { e =>
      val i2 = e.lastIndexOf(':')
      val i1 = e.lastIndexOf(':', i2 - 1)
      e.substring(i1 + 1, i2).toLong
    }.sum

  /** The file path of a [[listEntries]] entry (strip the trailing
    * `:len:mtime` fields). */
  def entryPath(e: String): String = {
    val i2 = e.lastIndexOf(':')
    val i1 = e.lastIndexOf(':', i2 - 1)
    e.substring(0, i1)
  }

  private[ops] def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Purge grace for superseded zones — a reader in ANOTHER JVM may be
    * mid-scan on the previous fingerprint's files (its frame is lazy; the
    * scan can run long after it revalidated). Deleting eagerly turns that
    * into a FileNotFound in the reader, so superseded zones are kept for a
    * grace window first — the same tolerance pattern the compactor applies
    * to replaced source files (see Compactor purge tolerance). */
  private[graft] def purgeGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.derived.purgeGraceMs").flatMap { v =>
      // a malformed tuning value must degrade to the default, not fail the
      // query from inside get()/publish
      val parsed = scala.util.Try(v.toLong).toOption
      if (parsed.isEmpty)
        System.err.println(
          s"[graft] ignoring malformed spark.graft.derived.purgeGraceMs='$v'")
      parsed
    }.getOrElse(15L * 60 * 1000)

  /** Best-effort removal of zones for fingerprints outside the live
    * generation chain of the same (artifact, key) — a rewritten dataset's
    * old artifacts are garbage, but every ancestor of the live generation
    * is still part of its data. The grace window (concurrent-reader
    * tolerance, see [[purgeGraceMs]]) runs from SUPERSESSION, not publish:
    * the first prune that finds a zone outside the chain stamps it
    * (`_graft_superseded`), and a LATER publish's prune deletes it once the
    * stamp is older than the grace. In-flight `.tmp-*` writers are left alone.
    */
  private def pruneSuperseded(fs: FileSystem, zone: Path, keep: Set[String],
                              graceMs: Long): Unit =
    try {
      fs.listStatus(zone).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !keep.contains(n) && !n.startsWith(".")) {
          val stamp = new Path(st.getPath, SupersededFile)
          if (!fs.exists(stamp)) writeString(fs, stamp, "")
          // a negative grace prunes at once, whatever the clocks say
          if (graceMs < 0 ||
              System.currentTimeMillis() - fs.getFileStatus(stamp).getModificationTime > graceMs)
            fs.delete(st.getPath, true)
        }
      }
    } catch { case _: java.io.IOException => () }

  private[ops] def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private[ops] def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }
}
