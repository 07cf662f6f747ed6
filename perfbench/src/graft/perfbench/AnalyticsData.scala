package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the ten tables [[graft.Tables]] loads (the
  * TPC-H-like star schema plus `events`, `documents` and `embeddings`),
  * with the same column types and value domains as the engine's test
  * data. `scale` 1.0 gives 60,000 lineitem rows. */
object AnalyticsData {

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed)
    def n(base: Int): Int = math.max(10, (base * scale).toInt)
    val nOrders = n(15000); val nLine = n(60000); val nCust = n(1500)
    val nPart = n(2000); val nSupp = math.max(10, n(100)); val nEvents = n(10000)
    val nDocs = n(500); val nVecs = n(500)

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rnd.nextInt(days).toLong)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", new StructType().add("r_regionkey", IntegerType).add("r_name", StringType),
      regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    save("nation", new StructType().add("n_nationkey", IntegerType).add("n_name", StringType)
        .add("n_regionkey", IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", new StructType().add("c_custkey", LongType).add("c_name", StringType)
        .add("c_nationkey", IntegerType).add("c_acctbal", DoubleType).add("c_mktsegment", StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98), segments(rnd.nextInt(5)))))

    save("supplier", new StructType().add("s_suppkey", LongType).add("s_name", StringType)
        .add("s_nationkey", IntegerType).add("s_acctbal", DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))

    val adjectives = IndexedSeq("blue", "red", "small", "large", "hot", "old", "new", "green")
    val nouns = IndexedSeq("anvil", "ring", "plate", "widget", "rod", "bolt", "gear", "spring")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val price = (0 until nPart).map(i => r2(900.0 + (i % 12000) * 0.1))
    save("part", new StructType().add("p_partkey", LongType).add("p_name", StringType)
        .add("p_brand", StringType).add("p_type", StringType).add("p_size", IntegerType)
        .add("p_retailprice", DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}", s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(6)), 1 + rnd.nextInt(50), price(i))))

    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save("orders", new StructType().add("o_orderkey", LongType).add("o_custkey", LongType)
        .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
        .add("o_orderdate", TimestampNTZType).add("o_orderpriority", StringType),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        IndexedSeq("F", "O", "P")(rnd.nextInt(3)), r2(1000.0 + rnd.nextDouble() * 499000.0),
        day(d1995, 2404), priorities(rnd.nextInt(5)))))

    save("lineitem", new StructType().add("l_orderkey", LongType).add("l_partkey", LongType)
        .add("l_suppkey", LongType).add("l_linenumber", IntegerType).add("l_quantity", DoubleType)
        .add("l_extendedprice", DoubleType).add("l_discount", DoubleType).add("l_tax", DoubleType)
        .add("l_returnflag", StringType).add("l_linestatus", StringType)
        .add("l_shipdate", TimestampNTZType),
      (0 until nLine).map { _ =>
        val pk = rnd.nextInt(nPart)
        val q = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(nOrders).toLong, pk.toLong, rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7),
          q, r2(q * price(pk)), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          IndexedSeq("A", "N", "R")(rnd.nextInt(3)), IndexedSeq("F", "O")(rnd.nextInt(2)),
          day(LocalDateTime.of(1995, 1, 2, 0, 0), 2498))
      })

    val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    val nUsers = math.max(10, (150 * math.sqrt(scale)).toInt)
    val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
    val micros = (0 until nEvents).map(_ => (rnd.nextDouble() * 30 * 86400e6).toLong).sorted
    save("events", new StructType().add("event_id", LongType).add("ts", TimestampNTZType)
        .add("user_id", LongType).add("event_type", StringType).add("value", DoubleType)
        .add("props", StringType),
      micros.zipWithIndex.map { case (us, i) => Row(i.toLong, jan.plusNanos(us * 1000L),
        rnd.nextInt(nUsers).toLong, eventTypes(rnd.nextInt(5)), r2(0.01 + rnd.nextDouble() * 490.0),
        s"""{"k": ${rnd.nextInt(100)}}""") })

    val words = IndexedSeq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
      "data", "column", "join", "small", "big", "customer", "query", "stream", "group",
      "filter", "vector")
    val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until nDocs).foreach { i =>
      val u = rnd.nextDouble()
      val t =
        if (i > 10 && u < 0.03) texts(rnd.nextInt(texts.size)) // exact duplicate
        else if (i > 10 && u < 0.18) { // near duplicate: a few words replaced
          val ws = texts(rnd.nextInt(texts.size)).split(" ")
          (0 until 1 + rnd.nextInt(3)).foreach(_ => ws(rnd.nextInt(ws.length)) = words(rnd.nextInt(words.size)))
          ws.mkString(" ")
        } else (0 until 8 + rnd.nextInt(83)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      texts += t
    }
    save("documents", new StructType().add("doc_id", LongType).add("text", StringType)
        .add("lang", StringType).add("source", StringType).add("n_chars", LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}", t.length.toLong) }.toSeq)

    val dim = 64
    val centers = (0 until 10).map(_ => Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    save("embeddings", new StructType().add("vec_id", LongType)
        .add("embedding", ArrayType(FloatType, containsNull = true)).add("label", IntegerType),
      (0 until nVecs).map { i =>
        val label = rnd.nextInt(10)
        val v = centers(label).map(c => c + (rnd.nextDouble() * 2 - 1) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
