package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures kNN-graph recall on a corpus with REAL cluster structure
  * ([[ClusteredCorpus]]) — the measurement VERDICT r9 asked for: the
  * "~50–75% on curation-grade neighbors" figure was computed from the
  * per-plane agreement model; this tool replaces it with a run.
  *
  * Reports, as one JSON line (committed as `CLUSTERED_RECALL.json`):
  *  - mean recall@5 of the shipped capped graph per candidate cap
  *    (16 / 64 / 256 / uncapped), via
  *    [[graft.analytics.Similarity.knnGraphRecall]] — the production
  *    candidate rule replayed verbatim, SimilaritySpec-pinned;
  *  - mean recall@5 after one NN-descent round
  *    ([[graft.analytics.Similarity.knnGraphRefineRecall]]) and the LIFT
  *    over the shipped cap-64 build — NN-descent can only recover
  *    neighbors reachable through the graph, so the lift is the honest
  *    measure of whether the refine round earns its keep on data where
  *    neighbors actually exist;
  *  - the exact-cosine profile of the sample's true top-5 (mean/min),
  *    proving the corpus is in the curation regime (cos ≥ ~0.9) rather
  *    than the adversarial ≈0.5 floor of the driver corpus.
  *
  * Usage: `runMain graft.tools.ClusteredRecallBench <corpusDir>`
  */
object ClusteredRecallBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ClusteredRecallBench <corpusDir>")
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-clustered-recall")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val n = graft.Tables.embeddings(spark, dir).count()

      // ground-truth cosine profile of the sample's exact top-5
      val sim = graft.analytics.Similarity
      val (prof, _) = timed {
        sim.knnBrute(spark, dir)
          .agg(avg("cosine").as("mean"), min("cosine").as("min")).head()
      }
      val (capRows, tCap) = timed {
        sim.knnGraphRecall(spark, dir)
          .groupBy("cap").agg(avg("recall").as("r")).collect()
          .map(row => row.getAs[Any]("cap").toString.toLong ->
            row.getAs[Double]("r")).toMap
      }
      val (refine, tRef) = timed {
        sim.knnGraphRefineRecall(spark, dir)
          .agg(avg("recall")).head().getDouble(0)
      }
      // round 2: NN-descent compounds — refineRound over round 1's output
      // (same exact ground truth as knnGraphRefineRecall: the 30-node
      // sample's brute-force top-5)
      val (refine2, tRef2) = timed {
        val vectors = graft.Tables.embeddings(spark, dir)
        val base = sim.vecBase(vectors)
        val g = sim.knnGraphFrame(spark, vectors)
          .select(col("q_id"), col("n_id"), col("cosine"))
        val r2 = sim
          .refineRound(base, sim.refineRound(base, g)
            .select(col("q_id"), col("n_id"), col("cosine")))
          .filter(col("q_id") < sim.GraphRecallNQ)
          .select(col("q_id"), col("n_id"))
        val sample = base.filter(col("vec_id") < sim.GraphRecallNQ)
          .select(col("vec_id").as("s_id"), col("ed").as("q_ed"),
            col("nrm").as("q_nrm"))
        val dotp = graft.functions.GraftFunctions.dotp _
        val scored = base.join(broadcast(sample),
            col("s_id") =!= col("vec_id"))
          .select(col("s_id").as("q_id"), col("vec_id").as("n_id"),
            round(dotp(col("q_ed"), col("ed")) /
              (col("q_nrm") * col("nrm")), 6).as("cosine"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
        val exact = scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5).select(col("q_id"), col("n_id"))
        val nExact = exact.groupBy("q_id").agg(count(lit(1)).as("ne"))
        val hits = exact.join(r2, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("nh"))
        nExact.join(hits, Seq("q_id"), "left")
          .select((coalesce(col("nh"), lit(0L)) / col("ne")).as("r"))
          .agg(avg("r")).head().getDouble(0)
      }
      val base64 = capRows(graft.analytics.Similarity.GraphCell.toLong)
      val capsJson = capRows.toSeq.sortBy(_._1).map { case (c, r) =>
        s""""$c":${"%.4f".format(r)}""" }.mkString("{", ",", "}")
      val json =
        s"""{"metric":"clustered_recall","corpus":"$dir","n_vectors":$n,""" +
          s""""true_top5_cosine_mean":${"%.4f".format(prof.getDouble(0))},""" +
          s""""true_top5_cosine_min":${"%.4f".format(prof.getDouble(1))},""" +
          s""""recall_per_cap":$capsJson,""" +
          s""""refine_recall":${"%.4f".format(refine)},""" +
          s""""refine_lift_over_cap64":${"%.4f".format(refine - base64)},""" +
          s""""refine2_recall":${"%.4f".format(refine2)},""" +
          s""""wall_sec_caps":${"%.1f".format(tCap)},""" +
          s""""wall_sec_refine":${"%.1f".format(tRef)},""" +
          s""""wall_sec_refine2":${"%.1f".format(tRef2)},""" +
          s""""commit":"${graft.Bench.gitCommit()}"}"""
      println(json)
      val out = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "CLUSTERED_RECALL.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    } finally spark.stop()
  }
}
