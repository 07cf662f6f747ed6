package graft

import graft.ingest.EventParser
import graft.ops.LatestState
import graft.tools.{Populator, StorageInfo}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventParserSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def envelope(opIndex: String, typ: String, bucket: String, key: String,
                       value: String): String =
    s"""{"opIndex":"$opIndex","type":"$typ","bucket":"$bucket","key":"$key","value":$value}"""

  private val putValue =
    """{"owner-id":"o-1","content-length":42,"x-amz-meta-color":"blue",
      |"x-amz-meta-shape":"round","dataStoreName":"zone-1",
      |"location":[{"key":"k1","size":7,"start":0,"dataStoreName":"file","dataStoreETag":"1:a"},
      |            {"key":"k2","size":9,"start":7,"dataStoreName":"file","dataStoreETag":"2:b"}],
      |"tags":{"env":"prod"}}""".stripMargin.replaceAll("\n", "")

  test("parses envelope, hoists x-amz-meta-* into userMd, truncates location") {
    val raw = Seq(envelope("000000000005_000001", "put", "b1", "obj1", putValue)).toDF("value")
    val rows = EventParser.parse(raw, groupInterval = 1000L).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("bucket") == "b1")
    assert(r.getAs[String]("key") == "obj1")
    assert(r.getAs[Long]("opGroup") == 1000L) // 5 rounded up to interval
    val msg = r.getStruct(r.fieldIndex("message"))
    val userMd = msg.getMap[String, String](msg.fieldIndex("userMd"))
    assert(userMd == Map("x-amz-meta-color" -> "blue", "x-amz-meta-shape" -> "round"))
    assert(msg.getSeq[Any](msg.fieldIndex("location")).length == 1) // first element only
    assert(msg.getAs[Int]("content-length") == 42)
    assert(msg.getAs[String]("owner-id") == "o-1")
  }

  test("opGroup rounds UP to the interval; exact multiples stay") {
    val raw = Seq(
      envelope("000000010000_0", "put", "b", "k1", "{}"),
      envelope("000000010001_0", "put", "b", "k2", "{}")).toDF("value")
    val got = EventParser.parse(raw, groupInterval = 10000L)
      .select("key", "opGroup").as[(String, Long)].collect().toMap
    assert(got("k1") == 10000L)
    assert(got("k2") == 20000L)
  }

  test("drops garbage, system buckets, shadow buckets and the excluded bucket") {
    val raw = Seq(
      "not json at all",
      """{"broken""",
      envelope("000000000001_0", "put", "__metastore", "k", "{}"),
      envelope("000000000002_0", "put", "PENSIEVE", "k", "{}"),
      envelope("000000000003_0", "put", "users..bucket", "k", "{}"),
      envelope("000000000004_0", "put", "mpuShadowBucketabc", "k", "{}"),
      envelope("000000000005_0", "put", "own-meta", "k", "{}"),
      envelope("000000000006_0", "put", "keepme", "k", "{}")).toDF("value")
    val kept = EventParser.parse(raw, excludeBucket = "own-meta").select("bucket")
      .as[String].collect().toSeq
    assert(kept == Seq("keepme"))
  }

  test("null-safe defaults: missing bucket -> NOBUCKET, missing key -> empty") {
    val raw = Seq("""{"opIndex":"000000000001_0","type":"put","value":{}}""").toDF("value")
    val r = EventParser.parse(raw).select("bucket", "key").as[(String, String)].collect().head
    assert(r == ("NOBUCKET", ""))
  }

  test("tolerates raw (unquoted) control characters inside keys") {
    // versioned keys embed a raw NUL byte in the JSON string; the parser
    // must accept it (reference: jackson ALLOW_UNQUOTED_CONTROL_CHARS)
    val rawKey = "master\u0000v42"
    val raw = Seq(
      s"""{"opIndex":"000000000001_0","type":"put","bucket":"cb","key":"$rawKey","value":{}}""")
      .toDF("value")
    val parsed = EventParser.parse(raw).select("key").as[String].collect()
    assert(parsed.toSeq == Seq(rawKey))
  }
}

class LatestStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def opLog = Seq(
    ("k1", 1L, "put", "v1"), ("k1", 3L, "put", "v3"), ("k1", 2L, "put", "v2"),
    ("k2", 1L, "put", "a"), ("k2", 2L, "delete", ""),
    ("k3", 7L, "put", "z"),
    ("k4", 1L, "delete", ""), ("k4", 5L, "put", "resurrected"))
    .toDF("key", "op", "type", "payload")

  test("keeps only the highest-version event per key and drops tombstoned keys") {
    val snap = LatestState.snapshot(opLog, Seq("key"), "op", col("type") === "delete")
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(snap == Map("k1" -> "v3", "k3" -> "z", "k4" -> "resurrected"))
  }

  test("aggregation form matches the reference window form exactly") {
    val a = LatestState.snapshot(opLog, Seq("key"), "op", col("type") === "delete")
    val b = LatestState.snapshotWindowed(opLog, Seq("key"), "op", col("type") === "delete")
    assert(a.select("key", "op", "type", "payload").collect().toSet ==
      b.select("key", "op", "type", "payload").collect().toSet)
  }

  test("aggregation and window forms agree on randomized op-logs") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      rows <- Gen.listOfN(n, for {
        key <- Gen.chooseNum(0, 40).map(i => s"k$i")
        op <- Gen.chooseNum(0L, 500L)
        typ <- Gen.frequency(4 -> Gen.const("put"), 1 -> Gen.const("delete"))
        payload <- Gen.alphaStr.map(_.take(6))
      } yield (key, op, typ, payload))
    } yield rows
    (1 to 5).foreach { i =>
      val rows = gen.sample.getOrElse(List(("k0", 1L, "put", "x")))
      // dedupe (key, op) pairs: version must be unique per key for a
      // well-defined latest
      val df = rows.distinctBy(r => (r._1, r._2)).toDF("key", "op", "type", "payload")
      val a = LatestState.snapshot(df, Seq("key"), "op", col("type") === "delete")
        .select("key", "op", "type", "payload").collect().toSet
      val b = LatestState.snapshotWindowed(df, Seq("key"), "op", col("type") === "delete")
        .select("key", "op", "type", "payload").collect().toSet
      assert(a == b, s"round $i diverged")
    }
  }

  test("collapses physical copies of the winning event (compactor purge-tolerance window)") {
    // During the purge-tolerance window the same compaction group exists in
    // BOTH the landing and staging zones, so the union op-log holds two
    // byte-identical copies of every event in the group — including the
    // per-key winner. The snapshot must still emit exactly one row per key
    // (the reference's row_number()=1 window collapses copies implicitly).
    val doubled = opLog.union(opLog) // worst case: the whole log re-appended
    val snap = LatestState.snapshot(doubled, Seq("key"), "op", col("type") === "delete")
    val keys = snap.select("key").as[String].collect().toSeq
    assert(keys.sorted == keys.distinct.sorted, s"duplicate keys in snapshot: $keys")
    assert(snap.select("key", "payload").as[(String, String)].collect().toMap ==
      Map("k1" -> "v3", "k3" -> "z", "k4" -> "resurrected"))
    // partial double-presence: only one group (k1's events) is mid-purge
    val partial = opLog.union(opLog.filter(col("key") === "k1"))
    val partialSnap = LatestState.snapshot(partial, Seq("key"), "op", col("type") === "delete")
    assert(partialSnap.count() == 3L)
    assert(partialSnap.select("key", "op", "type", "payload").collect().toSet ==
      LatestState.snapshotWindowed(partial, Seq("key"), "op", col("type") === "delete")
        .select("key", "op", "type", "payload").collect().toSet)
  }

  test("argmax-join form combines map-side, hash-aggregates, never windows") {
    val plan = LatestState.snapshot(opLog, Seq("key"), "op", col("type") === "delete")
      .queryExecution.executedPlan.toString
    // the scale property: duplicate keys collapse BEFORE the exchange,
    // in a plain HashAggregate (fixed-width max buffer — the old
    // max_by(struct) form fell back to ObjectHash/SortAggregate)...
    assert(plan.contains("partial_max("), s"expected map-side partial max:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected HashAggregate merge:\n$plan")
    assert(!plan.contains("SortAggregate") && !plan.contains("ObjectHashAggregate"),
      s"slim max must stay in HashAggregate:\n$plan")
    // ...the payload is recovered by a semi-join, not carried in a buffer...
    assert(plan.contains("LeftSemi"), s"expected argmax semi-join:\n$plan")
    // ...and the only window (the physical-copy collapse) sits ABOVE the
    // semi-join, i.e. its input is the already-collapsed winners frame —
    // output-bounded, never the full history. (Spark additionally inserts
    // a WindowGroupLimit pair for the rank<=1 shape, whose Partial mode
    // keeps one row per key BEFORE the exchange — map-side collapse.)
    val win = plan.indexOf("Window [")
    val semi = plan.indexOf("LeftSemi")
    assert(win >= 0 && win < semi,
      s"copy-collapse window must be above the semi-join (output-bounded):\n$plan")
    assert(plan.indexOf("Window [", win + 1) == -1,
      s"exactly one window (the copy collapse) allowed:\n$plan")
  }

  test("utcTs renders epoch seconds in UTC by integer math, any session tz") {
    import spark.implicits._
    val secs = Seq(0L, 59L, 3600L, 86399L, 86400L, 951868800L,
      1234567890L, 2000000000L, 4102444799L)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val want = secs.map(s => java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC).format(fmt))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        val got = secs.toDF("sec")
          .select(analytics.CluesoOps.utcTs.as("ts"))
          .collect().map(_.getString(0)).toSeq
        assert(got == want, s"tz=$tz: $got")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }
  test("zone-served mvcc_snapshot ≡ the inline window formulation") {
    val served = analytics.CluesoOps.mvccSnapshot(spark, sf).collect().toSeq
    val ev = Tables.events(spark, sf).select(
      concat(col("user_id").cast("string"), lit(":"),
        get_json_object(col("props"), "$.k")).as("object_key"),
      col("event_id"), col("event_type"),
      Tables.cents(col("value")).as("v_c"),
      expr("ts div 1000000000").as("sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("object_key").orderBy(col("event_id").desc)
    val direct = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("object_key"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), (col("v_c") / 100.0).as("value"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .orderBy("object_key").collect().toSeq
    assert(served == direct)
  }
}

class PopulatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("journal lines are deterministic and parse losslessly") {
    val a = Populator.journalLines(spark, "bx", 50).as[String].collect()
    val b = Populator.journalLines(spark, "bx", 50).as[String].collect()
    assert(a.toSeq == b.toSeq)
    val parsed = EventParser.parse(Populator.journalLines(spark, "bx", 50))
    assert(parsed.count() == 50)
    val md = parsed.select(col("message.userMd")).as[Map[String, String]].collect()
    assert(md.forall(m => m.contains("x-amz-meta-food") && m.contains("x-amz-meta-rand")))
  }

  test("populateLanding writes a partitioned landing zone StorageInfo can read") {
    val dir = SparkTestSession.tempDir("landing")
    Populator.populateLanding(spark, dir, "bp", 120, groupInterval = 50L)
    val stats = StorageInfo.zoneStats(spark, dir)
    assert(stats.records == 120)
    assert(stats.parquetFiles > 0 && stats.totalBytes > 0)
    // partition layout: bucket=bp/opGroup=… (id 0 is an exact multiple -> group 0)
    val groups = new java.io.File(s"$dir/bucket=bp").list().toSeq.filter(_.startsWith("opGroup="))
    assert(groups.toSet == Set("opGroup=0", "opGroup=50", "opGroup=100", "opGroup=150"))
  }
}
