package graft

/** Deployment configuration for the search-engine half of the library
  * (reference: src/main/scala/com/scality/clueso/CluesoConfig.scala — the
  * subset that governs zone layout and runtime behavior). Session
  * settings are not here: the object-store connection
  * (`spark.hadoop.fs.s3a.*`), `spark.graft.derived.dir`,
  * `spark.graft.refine.rounds` and `spark.graft.scratch.bytes` are Spark
  * properties, given as `-Dspark.*` in `GRAFT_JAVA_OPTS` or in
  * `spark-defaults.conf`, and every CLI session ([[GraftConfig.cliSession]])
  * picks them up when it is built.
  *
  * @param landingDir      streaming-append zone, partitioned `(bucket, opGroup)`
  * @param stagingDir      compacted zone, same layout
  * @param checkpointDir   streaming checkpoint root
  * @param groupInterval   op-index records per compaction group
  * @param cacheTtlMillis  bucket-snapshot cache lifetime
  * @param excludeBucket   deployment's own metadata bucket (never indexed)
  * @param purgeToleranceMs grace period between compaction's staging
  *                        append and the landing purge (in-flight search
  *                        tolerance; see [[graft.compact.Compactor]])
  * @param kafkaBootstrap  Kafka bootstrap servers; empty → file journal
  * @param kafkaTopic      Kafka topic carrying the metadata journal
  * @param maxSearchScanBytes admission budget for one search's scan
  *                        footprint; 0 disables the [[graft.search.PlanGuard]]
  *                        gate (cartesian/nested-loop joins are still
  *                        rejected whenever the gate is on)
  */
case class GraftConfig(landingDir: String, stagingDir: String,
                       checkpointDir: String,
                       groupInterval: Long = 10000L,
                       cacheTtlMillis: Long = 60000L,
                       excludeBucket: String = "",
                       purgeToleranceMs: Long = 0L,
                       kafkaBootstrap: String = "",
                       kafkaTopic: String = "",
                       maxSearchScanBytes: Long = 0L) {
  require(groupInterval > 0, "groupInterval must be positive")
  require(purgeToleranceMs >= 0, "purgeToleranceMs must be non-negative")
  require(maxSearchScanBytes >= 0, "maxSearchScanBytes must be non-negative")
}

object GraftConfig {

  /** Session-conf key of the per-host scratch budget read by
    * [[scratchBytes]]. */
  val ScratchBytesConf = "spark.graft.scratch.bytes"

  /** The session's per-host scratch budget: the session conf if set,
    * else the `SPARK_GRAFT_SCRATCH_BYTES` env (so bench/CLI runs can
    * declare the host's disk without code), else — ONLY under a
    * `local[*]` master — half of the shuffle directory's free space.
    *
    * The local-master fallback exists because on a single host the
    * shuffle scratch genuinely IS bounded by one disk: an unconfigured
    * run of a disk-bounded build (the near-dup pair shuffle is ~45-50 GB
    * at ×1000) on a machine with less free space than that would
    * otherwise run single-pass and die on ENOSPC — the exact failure
    * mode the pair-space sharding was built to prevent. Half of free
    * space leaves headroom for everything the budget does NOT model
    * (cached posting lists on disk, checkpoint files, other queries'
    * shuffles in a full-suite run). A real cluster master keeps the
    * 0 = cluster-aggregate default: there, per-host scratch is sized
    * with the fleet and single-pass is the right shape. */
  def scratchBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(ScratchBytesConf)
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH_BYTES"))
      .map(_.trim.toLong).getOrElse(localScratchFallback(spark))

  /** Half the usable space of the first shuffle-scratch dir when the
    * master is local, else 0. Exposed for `ConfigToolsSpec`. */
  private[graft] def localScratchFallback(
      spark: org.apache.spark.sql.SparkSession): Long =
    if (!spark.sparkContext.master.startsWith("local")) 0L
    else {
      val dir = spark.conf.getOption("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
        .map(_.split(",")(0))
        .getOrElse(System.getProperty("java.io.tmpdir"))
      math.max(0L, new java.io.File(dir).getUsableSpace / 2)
    }

  /** Load from a HOCON-style config file — the deployment surface the
    * reference exposes (CluesoConfig takes a parsed config file; every
    * CLI tool takes the file's path as its first argument, e.g.
    * `/root/reference/src/main/scala/com/scality/clueso/tools/
    * MetadataTableCompactorTool.scala:14-18`). Parameterizing a
    * deployment means editing a conf file, not writing Scala.
    *
    * The runtime classpath is Spark's, which ships no HOCON library, so
    * this is a self-contained parser for the subset deployment configs
    * use:
    *  - `key = value` and `key: value` bindings;
    *  - nested object blocks `a { b = c }` flattening to dotted keys
    *    (`a.b`), plus literal dotted keys;
    *  - `#` and `//` comments (full-line or trailing, quote-aware);
    *  - quoted or bare scalar values;
    *  - duration suffixes (`ms`/`s`/`m`/`h`) on the `*.ms` keys, in the
    *    spirit of the reference's `getDuration` fields.
    */
  def fromFile(path: String): GraftConfig = {
    val props = new java.util.Properties()
    val stack = scala.collection.mutable.Stack.empty[String]
    def stripComment(line: String): String = {
      var inQuote = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (c == '"') inQuote = !inQuote
        else if (!inQuote && (c == '#' ||
          (c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/')))
          return line.substring(0, i)
        i += 1
      }
      line
    }
    def unquote(v: String): String =
      if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
        v.substring(1, v.length - 1)
      else v
    val DurationMs = """(\d+)\s*(ms|s|m|h)""".r
    def normalize(key: String, v: String): String =
      if (key.endsWith(".ms")) v match {
        case DurationMs(n, "ms") => n
        case DurationMs(n, "s") => (n.toLong * 1000L).toString
        case DurationMs(n, "m") => (n.toLong * 60000L).toString
        case DurationMs(n, "h") => (n.toLong * 3600000L).toString
        case other => other
      } else v
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().foreach { raw =>
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        if (line == "}") {
          require(stack.nonEmpty, s"$path: unbalanced '}'")
          stack.pop(); ()
        } else if (line.endsWith("{")) {
          stack.push(line.dropRight(1).trim.stripSuffix(":").stripSuffix("=").trim)
        } else {
          val sep = line.indexWhere(c => c == '=' || c == ':')
          require(sep > 0, s"$path: unparseable config line: $raw")
          val key = (stack.reverse :+ line.substring(0, sep).trim).mkString(".")
          val value = unquote(line.substring(sep + 1).trim)
          // an UNQUOTED s3a://... value gets comment-truncated at `//`
          // (HOCON's own rule) — a landing dir of "s3a:" would surface
          // as a confusing failure far from the config mistake, so make
          // the truncation loud here instead
          require(!(value.endsWith(":") && raw.contains("://")),
            s"$path: value for $key was comment-truncated at '//' — quote URIs: $key = \"...\"")
          props.setProperty(key, normalize(key, value))
        }
      }
    } finally src.close()
    require(stack.isEmpty, s"$path: unclosed '{' block (${stack.mkString(".")})")
    fromProperties(props)
  }

  /** The `graft.*` keys [[fromProperties]] reads. */
  private val Keys = Seq("graft.landing.dir", "graft.staging.dir",
    "graft.checkpoint.dir", "graft.group.interval", "graft.cache.ttl.ms",
    "graft.exclude.bucket", "graft.purge.tolerance.ms", "graft.kafka.bootstrap",
    "graft.kafka.topic", "graft.search.max.scan.bytes")

  /** Load from Java properties (the [[Keys]]), e.g. a `--properties-file`
    * passed to spark-submit: keys outside `graft.*` are left to Spark, and
    * a `graft.*` key this does not read fails loudly rather than being
    * dropped, since a session setting in the wrong file would otherwise
    * silently not apply.
    */
  def fromProperties(props: java.util.Properties): GraftConfig = {
    props.stringPropertyNames().forEach { k =>
      require(!k.startsWith("graft.") || Keys.contains(k),
        s"unknown config key $k: graft reads ${Keys.mkString(", ")}; session " +
          "settings (spark.hadoop.fs.s3a.*, spark.graft.derived.dir, " +
          "spark.graft.refine.rounds, spark.graft.scratch.bytes) are spark.* " +
          "properties: -Dspark.<key> in GRAFT_JAVA_OPTS or spark-defaults.conf")
    }
    def get(k: String): String = {
      val v = props.getProperty(k)
      require(v != null, s"missing required property $k")
      v
    }
    GraftConfig(
      landingDir = get("graft.landing.dir"),
      stagingDir = get("graft.staging.dir"),
      checkpointDir = props.getProperty("graft.checkpoint.dir",
        get("graft.landing.dir") + "/_checkpoints"),
      groupInterval = props.getProperty("graft.group.interval", "10000").toLong,
      cacheTtlMillis = props.getProperty("graft.cache.ttl.ms", "60000").toLong,
      excludeBucket = props.getProperty("graft.exclude.bucket", ""),
      purgeToleranceMs = props.getProperty("graft.purge.tolerance.ms", "0").toLong,
      kafkaBootstrap = props.getProperty("graft.kafka.bootstrap", ""),
      kafkaTopic = props.getProperty("graft.kafka.topic", ""),
      maxSearchScanBytes = props.getProperty("graft.search.max.scan.bytes", "0").toLong)
  }

  /** The session of every graft CLI (search, search server, ingest,
    * compactor, storage info, populator): master `SPARK_MASTER` (default
    * `local[4]`), `SPARK_GRAFT_CPUS` shuffle partitions (default 4), no
    * UI, `WARN` logging. Any other setting comes from Spark's own
    * `spark.*` properties, which the builder loads from the JVM's system
    * properties and `spark-defaults.conf`. */
  def cliSession(appName: String): org.apache.spark.sql.SparkSession = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
