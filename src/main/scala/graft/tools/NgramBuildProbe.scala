package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-by-stage wall-clock decomposition of the two biggest ×1000 zone
  * builds (round-16 targets): the near-dup `dedup_shared_counts` build
  * (305 s isolated) and the `text_tf_df` build (~186 s). Replays each
  * build's CURRENT shape with a timer around every materialization so the
  * optimization targets the measured stage, not a guess (guide §1).
  *
  * Usage: runMain graft.tools.NgramBuildProbe <sfDir> [ngram|tfdf]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS,
  *      SPARK_GRAFT_SCRATCH_BYTES (pair-shard passes)
  */
object NgramBuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "ngram"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val width = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "192")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
      r
    }
    which match {
      case "tfdf" => tfdf(spark, dir)
      case "ngram-old" => ngramOld(spark, dir)
      case _ => ngram(spark, dir)
    }
    spark.stop()
  }

  /** The round-15 build shape, kept verbatim for same-era A/B runs —
    * cross-era wall-clock comparisons on this host carry up to 2×
    * pass-level variance (measured), so before/after claims are made
    * old-shape-vs-new-shape back-to-back in one era. */
  private def ngramOld(spark: SparkSession, dir: String): Unit = {
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
      r
    }
    val ex = graft.Tables.documents(spark, dir).select(
      col("doc_id"),
      explode(graft.functions.GraftFunctions
        .ngrams(split(col("text"), " "), 3, distinct = true)).as("s"))
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= graft.analytics.Dedup.ShingleDfCap)
      .select("s")
    val exC = ex.join(rare, "s").select("doc_id", "s").persist()
    val nPost = t("OLD rare agg + join + persist")(exC.count())
    println(s"  postings=$nPost")
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(2048, (nPost / 1000000L).toInt + 1))
    println(s"  parts=$parts")
    val scratchBudget = graft.GraftConfig.scratchBytes(spark)
    val passes =
      if (scratchBudget <= 0L) 1
      else {
        val pairCnt = t("OLD pair-count job")(
          exC.groupBy("s").agg(count(lit(1)).as("c"))
            .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
              .cast("long")).first().getLong(0))
        val n = graft.ops.Tuning.pairShardPasses(pairCnt, scratchBudget)
        println(s"  pairs=$pairCnt passes=$n")
        n
      }
    val sizes = exC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val posts = exC.join(sizes, "doc_id")
      .repartition(parts, col("s")).persist()
    val passResults = (0 until passes).map { k =>
      t(s"OLD pass $k join+agg+filter") {
        val aSide =
          if (passes == 1) posts
          else posts.filter(pmod(hash(col("doc_id")), lit(passes)) === k)
        val passPairs = aSide.as("a").hint("SHUFFLE_HASH")
          .join(posts.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.n").as("na"), col("b.n").as("nb"))
          .repartition(parts, col("a_id"), col("b_id"))
          .groupBy("a_id", "b_id", "na", "nb")
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") / least(col("na"), col("nb")) >= 0.5)
          .select("a_id", "b_id", "shared", "na", "nb")
          .localCheckpoint()
        if (k < passes - 1) { System.gc(); Thread.sleep(500) }
        passPairs
      }
    }
    val pairs = passResults.reduce(_.unionByName(_))
    t("OLD final count")(println("  near-dup pairs=" + pairs.count()))
    posts.unpersist()
    exC.unpersist()
  }

  private def tfdf(spark: SparkSession, dir: String): Unit = {
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
      r
    }
    val docs = graft.Tables.documents(spark, dir)
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    timed("explode+count")(println("  tokens=" + terms.count()))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    timed("tf agg (doc,term)")(println("  tf_rows=" + tf.count()))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    timed("df agg (term)")(println("  terms=" + dfreq.count()))
    val joined = tf.join(dfreq, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"))
    val out = s"/tmp/r16/probe_tfdf_${System.nanoTime()}"
    timed("tf⋈df + parquet write")(joined.write.mode("overwrite").parquet(out))
  }

  private def ngram(spark: SparkSession, dir: String): Unit = {
    def t[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%9.2f s")
      r
    }
    val docBytes = graft.ops.DerivedZone.dataBytes(spark,
      Seq(s"$dir/documents.parquet"))
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(2048, (docBytes / (4L << 20)).toInt + 1))
    println(s"  parts=$parts")
    val exS = graft.Tables.documents(spark, dir).select(
      col("doc_id"),
      explode(graft.functions.GraftFunctions
        .ngrams(split(col("text"), " "), 3, distinct = true)).as("s"))
      .repartition(parts, col("s"))
      .persist()
    t("exS repartition + persist")(println("  raw=" + exS.count()))
    val rare = exS.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= graft.analytics.Dedup.ShingleDfCap)
      .select("s")
    val exC = exS.join(rare.hint("SHUFFLE_HASH"), "s")
      .select("doc_id", "s").persist()
    val nPost = t("rare agg + join + persist")(exC.count())
    exS.unpersist()
    println(s"  postings=$nPost")
    val scratchBudget = graft.GraftConfig.scratchBytes(spark)
    val passes =
      if (scratchBudget <= 0L) 1
      else {
        val pairCnt = t("pair-count job")(
          exC.groupBy("s").agg(count(lit(1)).as("c"))
            .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
              .cast("long")).first().getLong(0))
        val n = graft.ops.Tuning.pairShardPasses(pairCnt, scratchBudget,
          bytesPerPair = graft.ops.Tuning.PackedPairScratchBytesPerPair)
        println(s"  pairs=$pairCnt passes=$n")
        n
      }
    val DnRadix = 1L << 20
    val sizes = exC.groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
    val posts = exC.join(sizes, "doc_id")
      .select((col("doc_id") * DnRadix + col("n")).as("dn"), col("s"))
      .repartition(parts, col("s")).persist()
    t("sizes + join + reparts")(println("  posts=" + posts.count()))
    val passResults = (0 until passes).map { k =>
      t(s"pass $k join+agg+filter") {
        val aSide =
          if (passes == 1) posts
          else posts.filter(
            pmod(hash(expr(s"dn div $DnRadix")), lit(passes)) === k)
        val passPairs = aSide.as("a").hint("SHUFFLE_HASH")
          .join(posts.as("b"),
            col("a.s") === col("b.s") && col("a.dn") < col("b.dn"))
          .select(col("a.dn").as("adn"), col("b.dn").as("bdn"))
          .repartition(parts, col("adn"), col("bdn"))
          .groupBy("adn", "bdn")
          .agg(count(lit(1)).as("shared"))
          .select(expr(s"adn div $DnRadix").as("a_id"),
            expr(s"bdn div $DnRadix").as("b_id"), col("shared"),
            expr(s"adn % $DnRadix").as("na"), expr(s"bdn % $DnRadix").as("nb"))
          .filter(col("shared") / least(col("na"), col("nb")) >= 0.5)
          .select("a_id", "b_id", "shared", "na", "nb")
          .localCheckpoint()
        if (k < passes - 1) { System.gc(); Thread.sleep(500) }
        passPairs
      }
    }
    val pairs = passResults.reduce(_.unionByName(_))
    t("final count")(println("  near-dup pairs=" + pairs.count()))
    posts.unpersist()
    exC.unpersist()
  }
}
