package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The live state of one object, as the model of a bucket holds it. */
final case class Obj(opIndex: String, contentLength: Int, owner: String,
                     md5: String, color: String)

/** A search predicate with its SQL form (sent to the server) and its
  * model form (evaluated against the generator's own record). */
final case class Pred(sql: String, test: Obj => Boolean)

/** One search request in the reference client's shape: `GET
  * /<bucket>?search=<where>[&start_key=K]` with the server's default page
  * size. */
final case class Req(bucket: String, pred: Pred, startKey: Option[String]) {
  def path: String = {
    def enc(v: String) = java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
    s"/$bucket?search=${enc(pred.sql)}" + startKey.map(k => s"&start_key=${enc(k)}").getOrElse("")
  }
  /** The (bucket, where, cursor) the server sees once the route has
    * translated the query string. */
  def key: (String, String, Option[String]) = (bucket, pred.sql, startKey)
}

object Req {
  /** Page size when a request names none: `SearchServer.handle`'s and
    * the GET route's default, as in the reference client. */
  val DefaultLimit = 1000
}

/** Seeded metadata-journal generator that keeps an independent model of
  * every bucket's live keys. Lines go through the real ingest path; the
  * model answers every search the benchmark checks.
  *
  * Line mix per call of [[lines]]: new keys, overwrites of recent keys,
  * deletes, system-bucket lines and garbage lines (the last two must be
  * dropped by the parser and never reach the landing zone). */
final class JournalGen(seed: Long, val buckets: IndexedSeq[String]) {
  private val rnd = new SplittableRandom(seed)
  private var op = 0L
  private var keyNo = 0L
  val live: Map[String, java.util.TreeMap[String, Obj]] =
    buckets.map(b => b -> new java.util.TreeMap[String, Obj]()).toMap
  private val recent: Map[String, mutable.ArrayBuffer[String]] =
    buckets.map(b => b -> mutable.ArrayBuffer.empty[String]).toMap

  /** Lines the parser must keep (puts and deletes of indexed buckets). */
  var validLines = 0L
  var bytes = 0L
  /** Valid lines per (bucket, opGroup), for compaction accounting. */
  val perGroup = mutable.HashMap.empty[(String, Long), Long]

  val colors: IndexedSeq[String] = IndexedSeq("red", "green", "blue", "black", "white")
  val owners: IndexedSeq[String] = (0 until 16).map(i => f"o-$i%02d")
  private val systemBuckets = IndexedSeq("users..bucket", "__metastore", "PENSIEVE", "mpuShadowBucket7")
  private val garbage = IndexedSeq("", "x", "{}", "not json at all", """{"bucket":"b","key":"k"}""",
    """{"opIndex":"000000000001_000000","bucket":"nobucket"}""")

  def groupInterval: Long = JournalGen.GroupInterval

  private def nextOp(): String = { op += 1; f"$op%012d_000000" }

  private def opGroup(opIndex: String): Long = {
    val n = opIndex.take(12).toLong
    if (n % groupInterval == 0) n else n + groupInterval - n % groupInterval
  }

  private def hex(n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) sb ++= java.lang.Long.toHexString(rnd.nextLong() >>> 4)
    sb.take(n).toString
  }

  private def putLine(bucket: String, key: String): String = {
    val o = Obj(nextOp(), rnd.nextInt(100000), owners(rnd.nextInt(owners.size)),
      hex(32), colors(rnd.nextInt(colors.size)))
    live(bucket).put(key, o)
    count(bucket, o.opIndex)
    s"""{"opIndex":"${o.opIndex}","type":"put","bucket":"$bucket","key":"$key",""" +
      s""""value":{"md-model-version":3,"owner-display-name":"acct","owner-id":"${o.owner}",""" +
      s""""content-length":${o.contentLength},"content-md5":"${o.md5}",""" +
      s""""last-modified":"2024-01-01T00:00:00.000Z","x-amz-storage-class":"STANDARD",""" +
      s""""x-amz-meta-color":"${o.color}","x-amz-meta-batch":"${op % 7}",""" +
      s""""key":"$key","bucket":"$bucket"}}"""
  }

  private def deleteLine(bucket: String, key: String): String = {
    val opIndex = nextOp()
    live(bucket).remove(key)
    count(bucket, opIndex)
    s"""{"opIndex":"$opIndex","type":"delete","bucket":"$bucket","key":"$key"}"""
  }

  private def count(bucket: String, opIndex: String): Unit = {
    validLines += 1
    val g = (bucket, opGroup(opIndex))
    perGroup(g) = perGroup.getOrElse(g, 0L) + 1
  }

  private def newKey(bucket: String): String = {
    keyNo += 1
    // spread keys over the key space so pagination cursors land inside it
    val k = f"d${rnd.nextInt(10)}/obj_${keyNo * 7919 % 10000019}%08d"
    recent(bucket) += k
    if (recent(bucket).size > 4000) recent(bucket).remove(0, 1000)
    k
  }

  private def oldKey(bucket: String): Option[String] = {
    val r = recent(bucket)
    if (r.isEmpty) None else Some(r(r.size - 1 - rnd.nextInt(math.min(r.size, 2000))))
  }

  /** `n` journal lines spread over `targets` with the given shares of
    * overwrites, deletes and lines the parser must drop. */
  def lines(n: Int, targets: IndexedSeq[String], overwrite: Double, delete: Double,
            drop: Double): IndexedSeq[String] =
    (0 until n).map { _ =>
      val b = targets(rnd.nextInt(targets.size))
      val u = rnd.nextDouble()
      val line =
        if (u < drop / 2) putLineForSystem(systemBuckets(rnd.nextInt(systemBuckets.size)))
        else if (u < drop) garbage(rnd.nextInt(garbage.size))
        else if (u < drop + delete) oldKey(b).map(deleteLine(b, _)).getOrElse(putLine(b, newKey(b)))
        else if (u < drop + delete + overwrite) oldKey(b).map(putLine(b, _)).getOrElse(putLine(b, newKey(b)))
        else putLine(b, newKey(b))
      bytes += line.getBytes(StandardCharsets.UTF_8).length + 1
      line
    }

  private def putLineForSystem(bucket: String): String =
    s"""{"opIndex":"${nextOp()}","type":"put","bucket":"$bucket","key":"sys_$op",""" +
      s""""value":{"owner-id":"sys","content-length":1}}"""

  /** Write lines as one journal file, atomically (the file source must
    * never list a half-written file). */
  def writeFile(dir: Path, name: String, ls: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.getParent.resolve(s".$name.tmp")
    Files.write(tmp, (ls.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The `i`-th listing of a run over one bucket: the pages a client
    * reads for one predicate, each page's cursor being the last key of
    * the page before, until a page comes back short. The predicate kind
    * cycles with `i` (user metadata, content-length bound, content-length
    * range plus user metadata, owner, none), so runs with different seeds
    * load the same mix of kinds; the literals and buckets come from the
    * seed. The cursors are taken from the model's pages, which every
    * answer is checked against, so the pages can be sent open loop. */
  def listing(bucket: String, i: Int): Seq[Req] = {
    val c = colors(rnd.nextInt(colors.size))
    val lo = rnd.nextInt(90000)
    val pred = i % 5 match {
      case 0 => Pred(s"userMd['x-amz-meta-color'] = '$c'", _.color == c)
      case 1 => Pred(s"`content-length` > $lo", _.contentLength > lo)
      case 2 =>
        val hi = lo + 20000
        Pred(s"`content-length` BETWEEN $lo AND $hi AND userMd['x-amz-meta-color'] = '$c'",
          o => o.contentLength >= lo && o.contentLength <= hi && o.color == c)
      case 3 =>
        val ow = owners(rnd.nextInt(owners.size))
        Pred(s"`owner-id` = '$ow'", _.owner == ow)
      case _ => Pred("", _ => true)
    }
    val pages = mutable.ArrayBuffer(Req(bucket, pred, None))
    var page = expected(pages.last)
    while (page.size == Req.DefaultLimit) {
      pages += Req(bucket, pred, Some(page.last._1))
      page = expected(pages.last)
    }
    pages.toSeq
  }

  /** The page the model expects for `r`, as (key, content-length, owner, md5). */
  def expected(r: Req): Seq[(String, Long, String, String)] = {
    val m = live(r.bucket)
    val it = r.startKey.map(k => m.tailMap(k, false)).getOrElse(m).entrySet().iterator().asScala
    it.filter(e => r.pred.test(e.getValue)).take(Req.DefaultLimit)
      .map(e => (e.getKey, e.getValue.contentLength.toLong, e.getValue.owner, e.getValue.md5))
      .toSeq
  }
}

object JournalGen {
  /** Op-index records per compaction group (the ingest `groupInterval`). */
  val GroupInterval = 1500L

  /** Compare a server answer (a JSON array of result rows) with the
    * model's page: the same rows in the same order. */
  def verify(response: String, r: Req, want: Seq[(String, Long, String, String)]): Option[String] = {
    implicit val fmts: DefaultFormats.type = DefaultFormats
    try {
      JsonMethods.parse(response) match {
        case JArray(rows) =>
          val got = rows.map { j =>
            ((j \ "key").extract[String], (j \ "content-length").extractOpt[Long].getOrElse(-1L),
              (j \ "owner-id").extractOpt[String].getOrElse(""),
              (j \ "content-md5").extractOpt[String].getOrElse(""))
          }
          if (got == want) None
          else {
            val firstDiff = got.zipAll(want, null, null).indexWhere { case (a, b) => a != b }
            Some(s"search ${r.path}: ${got.size} rows vs ${want.size} expected, " +
              s"first difference at row $firstDiff")
          }
        case other => Some(s"search ${r.path}: not an array: ${response.take(200)}")
      }
    } catch {
      case e: Exception => Some(s"search ${r.path}: unparseable answer ${response.take(200)} ($e)")
    }
  }
}
