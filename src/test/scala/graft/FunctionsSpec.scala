package graft

import graft.functions.{GraftFunctions, Portable, Sig}
import graft.ops.MediaPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class SigExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private val asciiWord = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  test("native minhash32 equals the declarative higher-order-function fold") {
    val docs = Gen.listOfN(30, Gen.nonEmptyListOf(asciiWord).map(_.mkString(" ")))
      .sample.get.toDF("text")
    val sh = docs.select(Portable.shingles3(split(col("text"), " ")).as("sh"))
      .filter(size(col("sh")) > 0)
    val native = sh.select(GraftFunctions.minhash32(col("sh")).as("sig"))
    val declarative = sh
      .select(transform(col("sh"), s => Portable.polyHash(s)).as("hs"))
      .select(transform(sequence(lit(0), lit(31)), j =>
        array_min(transform(col("hs"), h => Portable.hashJ(h, j)))).as("sig"))
    assert(native.as[Seq[Long]].collect().toSeq ==
      declarative.as[Seq[Long]].collect().toSeq)
  }

  test("native simhash63 equals the declarative fold and is order-insensitive") {
    val toks = Seq(Seq("alpha", "beta", "gamma"), Seq("gamma", "beta", "alpha"),
      Seq("one"), Seq("lorem", "ipsum", "dolor", "sit", "amet"))
      .toDF("toks")
    val native = toks.select(GraftFunctions.simhash63(col("toks")).as("s")).as[Long].collect()
    val declarative = toks.select(
      aggregate(
        transform(sequence(lit(62), lit(0), lit(-1)), b =>
          when(aggregate(transform(col("toks"), t => Portable.polyHash(t)), lit(0L),
            (acc, h) => acc + (Portable.hashJ(h, b) % 2) * 2L - 1L) > 0, 1L).otherwise(0L)),
        lit(0L), (acc, bit) => acc * 2L + bit).as("s")).as[Long].collect()
    assert(native.toSeq == declarative.toSeq)
    assert(native(0) == native(1), "simhash must not depend on token order")
    assert((0L until 63L).forall(b => native.forall(s => s >= 0)), "63-bit => non-negative")
  }

  test("native dot/bucket equal the declarative folds on random vectors") {
    val vecs = Seq.tabulate(20)(i => Seq.tabulate(64)(d =>
      math.sin(i * 64 + d).abs * (if ((i + d) % 3 == 0) -1 else 1))).toDF("ed")
    val nat = vecs.select(
      GraftFunctions.dotp(col("ed"), col("ed")).as("dot"),
      GraftFunctions.hyperplaneBucket8(col("ed")).as("bucket"))
    val dec = vecs.select(
      Portable.seqSum(zip_with(col("ed"), col("ed"), (x, y) => x * y)).as("dot"),
      (0 until 8).foldLeft(lit(0L)) { (acc, p) =>
        acc * 2L + when(
          aggregate(sequence(lit(0), lit(63)), lit(0.0),
            (a, i) => a + element_at(col("ed"), i + 1) * Portable.planeSign(p, i)) > 0,
          1L).otherwise(0L)
      }.as("bucket"))
    assert(nat.as[(Double, Long)].collect().toSeq == dec.as[(Double, Long)].collect().toSeq)
  }

  test("native l2sq equals the declarative zip_with fold on long vectors") {
    val vecs = Seq.tabulate(20)(i => (
      Seq.tabulate(8)(d => ((i * 37 + d * 13) % 2001 - 1000).toLong),
      Seq.tabulate(8)(d => ((i * 53 + d * 29) % 2001 - 1000).toLong)))
      .toDF("a", "b")
    val nat = vecs.select(GraftFunctions.l2sq(col("a"), col("b")))
      .as[Long].collect().toSeq
    val dec = vecs.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x))
      .as[Long].collect().toSeq
    assert(nat == dec)
    assert(nat.exists(_ > 0))
  }

  test("native ngrams equals the declarative shingle builder (distinct and not)") {
    val docs = (Gen.listOfN(40, Gen.nonEmptyListOf(asciiWord).map(_.mkString(" ")))
      .sample.get ++ Seq("one", "two words", "a b a b a b")).toDF("text")
    val toks = split(col("text"), " ")
    val got = docs.select(
      GraftFunctions.ngrams(toks, 3, distinct = true).as("n3d"),
      GraftFunctions.ngrams(toks, 2, distinct = false).as("n2"),
      Portable.shingles3(toks).as("ref3d"),
      when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2), i =>
          concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>")).as("ref2"))
      .as[(Seq[String], Seq[String], Seq[String], Seq[String])].collect()
    got.foreach { case (n3d, n2, ref3d, ref2) =>
      assert(n3d == ref3d)
      assert(n2 == ref2)
    }
  }

  test("polyHashJvm matches the SQL polyHash column for ASCII strings") {
    val samples = Gen.listOfN(50, asciiWord).sample.get.distinct
    val sql = samples.toDF("s").select(col("s"), Portable.polyHash(col("s")))
      .as[(String, Long)].collect().toMap
    samples.foreach(s => assert(sql(s) == Portable.polyHashJvm(s), s"mismatch for '$s'"))
  }

  test("native polyhash equals the declarative per-char fold") {
    val samples = (Gen.listOfN(50, Gen.nonEmptyListOf(asciiWord).map(_.mkString(" ")))
      .sample.get ++ Seq("a", "hello world")).toDF("s")
    val got = samples.select(
      GraftFunctions.polyhash(col("s")).as("nat"),
      Portable.polyHash(col("s")).as("dec"))
      .as[(Long, Long)].collect()
    got.foreach { case (nat, dec) => assert(nat == dec) }
  }

  test("native winnow equals the declarative window-min pipeline") {
    val docs = (Gen.listOfN(40, Gen.nonEmptyListOf(asciiWord).map(_.mkString(" ")))
      .sample.get ++ Seq("one", "a b c", "a b c d e f", "x y z x y z x y z")).toDF("text")
    val sh = GraftFunctions.ngrams(split(col("text"), " "), 3, distinct = false)
    val w = 4
    val hs = transform(sh, s => Portable.polyHash(s))
    val declarative = array_distinct(
      when(size(hs) >= w,
        transform(sequence(lit(0), size(hs) - w), j =>
          array_min(slice(hs, j + 1, lit(w)))))
        .otherwise(when(size(hs) > 0, array(array_min(hs)))
          .otherwise(array().cast("array<bigint>"))))
    val got = docs.select(
      GraftFunctions.winnow(sh, w).as("nat"), declarative.as("dec"))
      .as[(Seq[Long], Seq[Long])].collect()
    got.foreach { case (nat, dec) => assert(nat == dec) }
  }

  test("native normalize equals the two-regex-pass canonicalization") {
    val edge = Seq("", "   ", "!!##@@", "  Hello,   WORLD!42  ", "a", "A.B.C",
      "tabs\tand\nnewlines stay punct", "MiXeD 09 CaSe--joined_words",
      "trailing space ", " leading", "many     internal      gaps",
      "café naïve résumé 中文")
    val rand = Gen.listOfN(60, Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 2 -> Gen.oneOf("!?.,-_#/\\:;'\"()".toSeq)
    )).map(_.mkString)).sample.get
    val docs = (edge ++ rand).toDF("text")
    val regexForm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val got = docs.select(GraftFunctions.normalize(col("text")).as("nat"),
      regexForm.as("dec")).as[(String, String)].collect()
    got.foreach { case (nat, dec) => assert(nat == dec) }
  }

  test("native token_stats equals the declarative split/regex/distinct forms") {
    val wordRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    val edge = Seq("", " ", "  ", "a", "a b a b", "Hello, WORLD!42x",
      "trailing ", " leading", "double  space", "a!!b??c", "42 42 43",
      "MiXeD-CaSe_under 9lives 9lives")
    val rand = Gen.listOfN(60, Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 2 -> Gen.oneOf("!?.,-_#/\\:;'\"()".toSeq)
    )).map(_.mkString)).sample.get
    val docs = (edge ++ rand).toDF("text")
    val got = docs.select(
      GraftFunctions.tokenStats(col("text")).as("ts"),
      size(split(col("text"), " ")).as("ws"),
      size(regexp_extract_all(lower(col("text")), lit(wordRe), lit(0))).as("words"),
      size(array_distinct(split(col("text"), " "))).as("vocab"),
      length(col("text")).as("chars"))
      .select(col("ts.n_ws_tokens"), col("ts.n_words"), col("ts.n_vocab"),
        col("ts.n_chars"), col("ws"), col("words"), col("vocab"), col("chars"))
      .as[(Int, Int, Int, Int, Int, Int, Int, Int)].collect()
    got.foreach { case (a1, a2, a3, a4, b1, b2, b3, b4) =>
      assert((a1, a2, a3, a4) == (b1, b2, b3, b4)) }
  }

  test("native hash_features equals the declarative explode/polyhash counts") {
    // real corpus + ASCII edges (no consecutive/trailing spaces: split and
    // string_split disagree with the kernel only on EMPTY tokens, which
    // the corpus contract excludes — same caveat as the polyhash mirrors)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).limit(100)
      .union(Seq("a", "a b a", "42 xyz 42 xyz abc", "zz9 !? token").toDF("text"))
    val declarative = docs.select(col("text"),
      transform(sequence(lit(0), lit(15)), j =>
        size(filter(split(col("text"), " "), t =>
          pmod(graft.functions.Portable.polyHash(t), lit(16L)) === j.cast("long")))
          .cast("long")).as("expect"))
    val got = declarative.select(col("expect"),
      GraftFunctions.hashFeatures(col("text"), 16).as("got"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel diverged: expect=${r.getSeq[Long](0)} got=${r.getSeq[Long](1)}")
    }
  }

  test("registration-time literal args accept BIGINT and reject non-literals loudly") {
    GraftFunctions.register(spark)
    // BIGINT literal (what a SQL caller naturally writes) must coerce
    val viaBigint = spark.sql(
      "SELECT graft_hash_features('a b a', CAST(16 AS BIGINT)) AS f").head.getSeq[Long](0)
    val viaInt = spark.sql(
      "SELECT graft_hash_features('a b a', 16) AS f").head.getSeq[Long](0)
    assert(viaBigint == viaInt)
    // a non-foldable second argument must produce the explicit contract
    // error, not a ClassCastException out of the resolver
    val nonLit = intercept[Exception] {
      spark.sql("SELECT graft_hash_features(text, n_chars) FROM " +
        "parquet.`/root/testdata/sf0.001/documents.parquet`").head
    }
    def rootChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(rootChain(nonLit).exists(c =>
      Option(c.getMessage).exists(_.contains("nBuckets must be an integer literal"))),
      s"expected the explicit literal-contract error, got: $nonLit")
    // NULL and fractional literals fail the same way
    val nullLit = intercept[Exception] {
      spark.sql("SELECT graft_hash_features('a', CAST(NULL AS INT))").head
    }
    assert(rootChain(nullLit).exists(c =>
      Option(c.getMessage).exists(_.contains("integer literal"))))
    val fracLit = intercept[Exception] {
      spark.sql("SELECT graft_hash_features('a', 2.5D)").head()
    }
    assert(rootChain(fracLit).exists(c => Option(c.getMessage)
      .exists(_.contains("nBuckets must be an integer literal (got Double literal)"))),
      s"a fractional literal must not be narrowed, got: $fracLit")
    // a boolean argument's error names it as the expression does
    val badDedupe = intercept[Exception] {
      spark.sql("SELECT graft_topk(named_struct('score', 1.0d, 'id', 1L), 2, 1)").head()
    }
    assert(rootChain(badDedupe).exists(c => Option(c.getMessage)
      .exists(_.contains("graft_topk: dedupe_ids must be a boolean literal"))),
      s"expected the dedupe_ids literal-contract error, got: $badDedupe")
  }

  test("native gopher_stats equals the interpreted HOF forms (corpus + edges)") {
    // the real corpus plus the edges where split/array_distinct semantics
    // bite: empty string, consecutive/trailing spaces (empty tokens kept),
    // repeated tokens, case-sensitive stopwords, non-ASCII codepoints,
    // and a long document (the regime the kernel exists for)
    val edge = Seq("", " ", "  ", "a", "the the the a of", "The THE the",
      "trailing ", " leading", "double  space", "42 42 43 is of and",
      "naïve café über tokens", Seq.fill(3000)("tok").mkString(" "),
      (0 until 3000).map(i => s"w${i % 97}").mkString(" "))
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().toSeq
    val docs = (edge ++ corpus).toDF("text")
    val stops = Sig.GopherStops
    val toks = split(col("text"), " ")
    val hof = docs.select(
      GraftFunctions.gopherStats(col("text")).as("st"),
      size(toks).as("n"),
      (length(col("text")) - (size(toks) - lit(1))).as("sum_len"),
      size(array_distinct(toks)).as("n_vocab"),
      array_max(transform(array_distinct(toks),
        t => size(filter(toks, x => x === t)))).as("max_tf"),
      size(filter(array_distinct(toks),
        t => stops.map(t === _).reduce(_ || _))).as("n_stops"))
      .select(col("st.n_tokens"), col("st.sum_len"), col("st.n_vocab"),
        col("st.max_tf"), col("st.n_stops"),
        col("n"), col("sum_len"), col("n_vocab"), col("max_tf"), col("n_stops"))
      .as[(Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)].collect()
    assert(hof.length == edge.size + corpus.size)
    hof.foreach { case (k1, k2, k3, k4, k5, h1, h2, h3, h4, h5) =>
      assert((k1, k2, k3, k4, k5) == (h1, h2, h3, h4, h5)) }
  }

  test("native charclass_stats equals the regexp_replace-length forms (corpus + edges)") {
    // edges: empty, uppercase (NOT in [a-z]), digits, multi-byte
    // codepoints (every byte ≥ 0x80 — none may count as letter/digit/
    // space, but each codepoint counts once in n_chars), punctuation
    val edge = Seq("", " ", "abc", "ABC", "a1 b2", "42", "naïve café über",
      "日本語 text 123", "¡¿", "mixed ÜBER lower 9  ")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().toSeq
    val rows = (edge ++ corpus).toDF("text")
      .select(GraftFunctions.charClassStats(col("text")).as("cc"),
        length(col("text")).as("n_chars"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("n_letter"),
        length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit"),
        length(regexp_replace(col("text"), "[^ ]", "")).as("n_space"))
      .select(col("cc.n_chars"), col("cc.n_letter"), col("cc.n_digit"),
        col("cc.n_space"), col("n_chars"), col("n_letter"), col("n_digit"),
        col("n_space"))
      .as[(Int, Int, Int, Int, Int, Int, Int, Int)].collect()
    assert(rows.length == edge.size + corpus.size)
    rows.foreach { case (k1, k2, k3, k4, r1, r2, r3, r4) =>
      assert((k1, k2, k3, k4) == (r1, r2, r3, r4)) }
  }

  test("native scrub equals the four-pass regex chain on the real corpus (both ways)") {
    val dir = "/root/testdata/sf0.001"
    val kernel = graft.analytics.TextOps.piiScrub(spark, dir).collect().toSeq
    val regex = graft.analytics.TextOps.piiScrubDeclarative(spark, dir).collect().toSeq
    assert(kernel.nonEmpty)
    assert(kernel == regex)
  }

  test("native scrub reproduces java.util.regex find() on adversarial pattern edges") {
    val emailP = java.util.regex.Pattern.compile(graft.analytics.TextOps.EmailRe)
    val phoneP = java.util.regex.Pattern.compile(graft.analytics.TextOps.PhoneRe)
    def refCount(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s); var c = 0; while (m.find()) c += 1; c
    }
    def ref(s: String): (Int, Int, String) =
      (refCount(emailP, s), refCount(phoneP, s),
        phoneP.matcher(emailP.matcher(s).replaceAll("<EMAIL>")).replaceAll("<PHONE>"))
    val edge = Seq(
      "", "no pii here", "a@b.cd", "a@b.cd9", "a@b.c", "a@b..cd", "a@b.cd.ef",
      "x@y@z.de", "@nope.com", "mail@.com", "mail@com.", "a@-.ab", "a@b.cd.9",
      "a.b+c_d%e@sub.domain-x.org rest", "tight@fit.ab", "ü@x.de", "aü@x.de",
      "+1-555-123", "+1-555-12345", "pre+1-555-0000post", "+1-555-+1-555-1234",
      "+1-555-1234@x.com", "a@b.cde+1-555-9999", "two a@b.cd c@d.ef emails",
      "u5@mail.example.com or +1-555-0005", "@@@", "...@...", "a@b.cd@e.fg")
    // random strings over a pattern-heavy alphabet: '@', dots, digits,
    // '+','-','5','1' and letters — dense in near-miss shapes
    val rand = Gen.listOfN(150, Gen.listOfN(40, Gen.frequency(
      5 -> Gen.alphaNumChar, 2 -> Gen.const('@'), 2 -> Gen.const('.'),
      2 -> Gen.oneOf('+', '-'), 2 -> Gen.oneOf('1', '5'),
      1 -> Gen.const(' '), 1 -> Gen.oneOf('_', '%'))).map(_.mkString)).sample.get
    val cases = edge ++ rand
    val got = cases.toDF("text")
      .select(GraftFunctions.scrub(col("text")).as("s"))
      .select(col("s.n_emails"), col("s.n_phones"), col("s.scrubbed"))
      .as[(Int, Int, String)].collect()
    cases.zip(got).foreach { case (s, g) =>
      assert(g == ref(s), s"kernel/regex divergence on input <$s>")
    }
  }

  test("native profile scores (langid) equal the HOF chain on the real corpus (both ways)") {
    val dir = "/root/testdata/sf0.001"
    val kernel = graft.analytics.TextOps.textLangid(spark, dir).collect().toSeq
    val hof = graft.analytics.TextOps.textLangidDeclarative(spark, dir).collect().toSeq
    assert(kernel.nonEmpty)
    assert(kernel == hof)
  }

  test("graft_topk equals row_number window top-k including ties") {
    // deliberately include score ties so tie-break-by-id is exercised
    val rows = for (q <- 0 until 4; i <- 0 until 57)
      yield (q.toLong, i.toLong, math.round(math.sin(q * 57 + i) * 100) / 100.0)
    val scored = rows.toDF("q_id", "n_id", "cosine").repartition(8)
    val agged = scored.groupBy("q_id")
      .agg(GraftFunctions.topk(struct(col("cosine"), col("n_id")), 5).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("n_id"), col("t.score").as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    val windowed = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("n_id"), col("cosine"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    assert(agged.collect().map(key).sortBy(identity).toSeq ==
      windowed.collect().map(key).sortBy(identity).toSeq)
  }

  test("TopKHeap chunked serde + merge equals sort-based top-k (property)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 20) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(200)
      // duplicate scores on purpose so id tie-breaks are exercised
      val cands = Seq.fill(n)((rnd.nextInt(20) / 10.0, rnd.nextInt(1000).toLong)).distinct
      val chunks = rnd.shuffle(cands).grouped(math.max(1, n / 4)).toSeq
      val partials = chunks.map { ch =>
        val h = new graft.functions.TopKHeap(k)
        ch.foreach { case (s, id) => h.add(s, id) }
        // round-trip through the shuffle format
        graft.functions.TopKHeap.fromBytes(h.toBytes, k)
      }
      val merged = partials.foldLeft(new graft.functions.TopKHeap(k)) { (acc, h) =>
        acc.mergeFrom(h); acc
      }
      val got = {
        val arr = merged.result()
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2); (r.getDouble(0), r.getLong(1))
        }
      }
      val want = cands.sortWith { case ((s1, i1), (s2, i2)) =>
        if (s1 != s2) s1 > s2 else i1 < i2
      }.take(k)
      assert(got == want, s"trial $trial k=$k n=$n")
    }
  }

  test("TopKHeap dedupe_ids under partitioned merge equals distinct-then-top-k (property)") {
    // the contract the knn_graph fused-scoring path relies on: when every
    // occurrence of an id carries the SAME score (a duplicated candidate
    // pair always rescores to the same cosine), heap id-dedupe across
    // arbitrary partition splits + serde round-trips is EXACTLY
    // distinct() followed by top-k
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 20) {
      val k = 1 + rnd.nextInt(8)
      val nIds = 1 + rnd.nextInt(60)
      // one fixed score per id; then emit each id 1-4 times (the
      // multi-table duplication shape), shuffled across chunks
      val scoreOf = (0 until nIds)
        .map(id => id.toLong -> rnd.nextInt(20) / 10.0).toMap
      val occurrences = rnd.shuffle(scoreOf.toSeq.flatMap { case (id, s) =>
        Seq.fill(1 + rnd.nextInt(4))((s, id)) })
      val chunks = occurrences.grouped(math.max(1, occurrences.size / 5)).toSeq
      val partials = chunks.map { ch =>
        val h = new graft.functions.TopKHeap(k, dedupeIds = true)
        ch.foreach { case (s, id) => h.add(s, id) }
        graft.functions.TopKHeap.fromBytes(h.toBytes, k, dedupeIds = true)
      }
      val merged = partials.foldLeft(
        new graft.functions.TopKHeap(k, dedupeIds = true)) { (acc, h) =>
        acc.mergeFrom(h); acc
      }
      val got = {
        val arr = merged.result()
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2); (r.getDouble(0), r.getLong(1))
        }
      }
      val want = scoreOf.toSeq.map { case (id, s) => (s, id) }
        .sortWith { case ((s1, i1), (s2, i2)) =>
          if (s1 != s2) s1 > s2 else i1 < i2
        }.take(k)
      assert(got == want, s"trial $trial k=$k nIds=$nIds")
    }
  }

  test("graft_topk partial aggregation keeps at most k per map task") {
    val scored = (0 until 1000).map(i => (1L, i.toLong, i.toDouble)).toDF("q_id", "n_id", "cosine")
    val plan = scored.groupBy("q_id")
      .agg(GraftFunctions.topk(struct(col("cosine"), col("n_id")), 3).as("tk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk") || plan.contains("ObjectHashAggregate"),
      s"expected partial aggregation in plan:\n$plan")
  }

  test("graft_term_counts ≡ explode → count per (doc, term) on the real corpus") {
    val docs = Tables.documents(spark, sf)
    val kernel = docs
      .select(col("doc_id"), explode(graft.functions.GraftFunctions
        .termCounts(split(col("text"), " "))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val declarative = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(kernel.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(kernel).isEmpty,
      "kernel term counts diverge from the declarative aggregation")
  }
}

class GraftExtensionsSpec extends AnyFunSuite {
  test("spark.sql.extensions-style injection exposes graft_* in SQL") {
    import org.apache.spark.sql.SparkSession
    val base = SparkTestSession.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_simhash63(array('alpha','beta')) AS s, " +
          "graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "graft_ngrams(array('a','b','c','b','c'), 2, true) AS g, " +
          "graft_polyhash('hello world') AS ph, " +
          "graft_winnow(array('a b c','b c d','c d e'), 2) AS wn").collect().head
      assert(r.getDouble(1) == 11.0)
      assert(r.getLong(0) >= 0L)
      assert(r.getSeq[String](2) == Seq("a b", "b c", "c b"))
      assert(r.getLong(3) == 234728892L) // documented Portable fixture
      assert(r.getSeq[Long](4).nonEmpty)
      val tk = s2.sql(
        "SELECT graft_topk(named_struct('score', CAST(v AS DOUBLE), 'id', CAST(v AS BIGINT)), 2) AS tk " +
          "FROM VALUES (1), (5), (3), (2) t(v)").collect().head
      assert(tk.getSeq[org.apache.spark.sql.Row](0).map(_.getDouble(0)) == Seq(5.0, 3.0))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private def graftNames(s: org.apache.spark.sql.SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  test("the extension installs every name register installs, with checked literals") {
    import org.apache.spark.sql.SparkSession
    val base = SparkTestSession.spark
    val registered = base.newSession()
    GraftFunctions.register(registered)
    assert(graftNames(registered).size == 19)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(graftNames(s2) == graftNames(registered))
      val r = s2.sql(
        "SELECT graft_dotf(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS df, " +
          "size(graft_term_counts(array('a','b','a'))) AS tc, " +
          "graft_normalize('Hello') AS nz, " +
          "graft_token_stats('a b').n_ws_tokens AS ts, " +
          "size(graft_hash_features('a b a', 8)) AS hf, " +
          "graft_gopher_stats('the cat').n_tokens AS gs, " +
          "graft_diversity_stats('a b a').n_types AS ds, " +
          "graft_charclass_stats('ab 12').n_digit AS cc, " +
          "graft_scrub('mail a@b.com').n_emails AS sc, " +
          "graft_ngrams(array('a','b','c'), 2L, true) AS ng").collect().head
      assert(r.getDouble(0) == 11.0)
      assert(r.getInt(1) == 2)
      assert(r.getString(2) == "hello")
      assert(r.getInt(3) == 2)
      assert(r.getInt(4) == 8)
      assert(r.getInt(5) == 2)
      assert(r.getInt(6) == 2)
      assert(r.getInt(7) == 2)
      assert(r.getInt(8) == 1)
      assert(r.getSeq[String](9) == Seq("a b", "b c"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("query paths run on a session where no graft_* function is registered") {
    val base = SparkTestSession.spark
    val fresh = base.newSession()
    base.conf.getOption("spark.graft.derived.dir")
      .foreach(fresh.conf.set("spark.graft.derived.dir", _))
    assert(graftNames(fresh).isEmpty)
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("text_bm25", "text_langid", "knn_brute", "dedup_minhash_lsh")) {
      val run = SparkEntry.queries(q)
      assert(run(fresh, sf).collect().toSeq == run(base, sf).collect().toSeq, q)
    }
    assert(graftNames(fresh).isEmpty, "a query path registered a graft_* function")
  }
}

class MediaPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("PPM codec round-trips: encode → decode recovers spec + pixel sum") {
    val payload = graft.ops.PpmCodec.encode(320, 137, 9, 200)
    // a real P6 file: magic + textual header any PPM viewer accepts
    assert(new String(payload.take(3)) == "P6\n")
    val d = graft.ops.PpmCodec.decode(payload)
    assert(d.width == 320 && d.height == 137 && d.nFrames == 9)
    // the decoder's raster sum equals the closed form the oracle computes
    assert(d.pxSum == graft.ops.PpmCodec.pxSumClosedForm(320L * 137 * 3, 200L))
    // brute-force the closed form across wrap/no-wrap partial cycles
    for (n <- Seq(1L, 255L, 256L, 257L, 1000L); fill <- Seq(0L, 1L, 100L, 255L)) {
      val brute = (0L until n).map(i => (fill + i) % 256).sum
      assert(graft.ops.PpmCodec.pxSumClosedForm(n, fill) == brute,
        s"closed form diverges at n=$n fill=$fill")
    }
  }

  test("PPM codec round-trip holds across generated specs (property)") {
    import org.scalacheck.Gen
    val specs = Gen.listOfN(60, for {
      w <- Gen.choose(1, 320); h <- Gen.choose(1, 240)
      f <- Gen.choose(1, 24); fill <- Gen.choose(0, 255)
    } yield (w, h, f, fill)).sample.get
    specs.foreach { case (w, h, f, fill) =>
      val d = graft.ops.PpmCodec.decode(graft.ops.PpmCodec.encode(w, h, f, fill))
      assert((d.width, d.height, d.nFrames) == (w.toLong, h.toLong, f.toLong),
        s"round-trip broke at ${w}x$h frames=$f fill=$fill")
      assert(d.pxSum == graft.ops.PpmCodec.pxSumClosedForm(3L * w * h, fill.toLong),
        s"pixel sum diverged from closed form at ${w}x$h fill=$fill")
    }
  }

  test("PPM decoder handles generic P6 input and rejects corrupt payloads") {
    // a foreign P6 (no frames manifest, comment between tokens) decodes
    val foreign = ("P6\n# some viewer comment\n2\n# another\n 3\n255\n" +
      "x" * 18).getBytes("US-ASCII")
    val d = graft.ops.PpmCodec.decode(foreign)
    assert(d.width == 2 && d.height == 3 && d.nFrames == 1)
    assert(d.pxSum == 18L * 'x')
    // corrupt inputs fail loudly, never yield garbage features
    val good = graft.ops.PpmCodec.encode(4, 4, 2, 10)
    intercept[IllegalArgumentException](graft.ops.PpmCodec.decode("JFIF".getBytes))
    intercept[IllegalArgumentException](graft.ops.PpmCodec.decode(good.dropRight(1)))
    intercept[IllegalArgumentException](
      graft.ops.PpmCodec.decode("P6\n0 5\n255\n".getBytes))
  }

  test("typed media pipeline decodes real image payloads per partition batch") {
    val media = Seq(
      MediaPipeline.MediaRecord(1L, "srcA", graft.ops.PpmCodec.encode(300, 100, 8, 5)),
      MediaPipeline.MediaRecord(2L, "srcA", graft.ops.PpmCodec.encode(1, 1, 1, 0)),
      MediaPipeline.MediaRecord(3L, "srcB", graft.ops.PpmCodec.encode(50, 240, 24, 255)))
      .toDS().repartition(2)
    val feats = MediaPipeline.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats.map(f => (f.width, f.height, f.n_frames)).toSeq ==
      Seq((300L, 100L, 8L), (1L, 1L, 1L), (50L, 240L, 24L)))
    assert(feats(1).px_sum == 3L) // 3 plane bytes: 0+1+2
    assert(feats.forall(f => f.byte_len > 3 * f.width * f.height))
  }

  test("media feature store serves a fresh session with zero decode jobs") {
    val root = SparkTestSession.tempDir("media-zone")
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.derived.dir", root)
    try {
      MediaPipeline.clearMemo()
      val b0 = MediaPipeline.featsMemo.builds.get
      val built = MediaPipeline.features(spark, dir).collect()
      assert(MediaPipeline.featsMemo.builds.get == b0 + 1)
      // "fresh session": empty in-memory state, same zone root — features
      // must come off the published parquet with no re-decode
      MediaPipeline.clearMemo()
      val served = MediaPipeline.features(spark, dir).collect()
      assert(MediaPipeline.featsMemo.builds.get == b0 + 1,
        "fresh session must not re-run the decode stage")
      assert(MediaPipeline.featsMemo.diskHits.get >= 1)
      assert(served.map(_.toString).sorted.toSeq == built.map(_.toString).sorted.toSeq)
    } finally {
      spark.conf.unset("spark.graft.derived.dir")
      MediaPipeline.clearMemo()
    }
  }

  test("asMedia synthesizes valid per-document PPMs the decode stage accepts") {
    val dir = "/root/testdata/sf0.001"
    val media = MediaPipeline.asMedia(spark, dir)
    val one = media.filter(_.doc_id == 0L).collect().head
    val text = Tables.documents(spark, dir).filter(col("doc_id") === 0)
      .select("text").as[String].collect().head
    val (w, h, frames, fill) = MediaPipeline.imageSpec(text)
    val d = graft.ops.PpmCodec.decode(one.payload)
    assert((d.width, d.height, d.nFrames) == (w.toLong, h.toLong, frames.toLong))
    assert(d.pxSum == graft.ops.PpmCodec.pxSumClosedForm(3L * w * h, fill.toLong))
    // dims stay in the documented (oracle-mirrored) ranges
    val all = MediaPipeline.extractFeatures(media).collect()
    all.foreach { ft =>
      assert(ft.width >= 1 && ft.width <= 320)
      assert(ft.height >= 1 && ft.height <= 240)
      assert(ft.n_frames >= 1 && ft.n_frames <= 24)
    }
  }

  test("media decode stage runs unchanged on a stream, bit-equal to batch") {
    import spark.implicits._
    import graft.ops.{MediaPipeline, PpmCodec}
    implicit val sc = spark.sqlContext
    // the extraction stage is a stateless typed mapPartitions — the SAME
    // operator must serve both batch backfill and streaming ingest with
    // no watermark or state store
    val recs = Seq(
      MediaPipeline.MediaRecord(1L, "a", PpmCodec.encode(30, 20, 5, 7)),
      MediaPipeline.MediaRecord(2L, "b", PpmCodec.encode(200, 100, 24, 255)),
      MediaPipeline.MediaRecord(3L, "a", PpmCodec.encode(1, 1, 1, 0)))
    val in = MemoryStream[(Long, String, Array[Byte])]
    val stream = in.toDS().map { case (id, s, p) => MediaPipeline.MediaRecord(id, s, p) }
    val q = MediaPipeline.extractFeatures(stream)
      .writeStream.format("memory").queryName("mediafeats")
      .outputMode("append").start()
    try {
      in.addData(recs.map(r => (r.doc_id, r.source, r.payload)))
      q.processAllAvailable()
      val streamed = spark.table("mediafeats")
        .as[MediaPipeline.MediaFeatures].collect().sortBy(_.doc_id).toSeq
      val batch = MediaPipeline.extractFeatures(recs.toDS())
        .collect().sortBy(_.doc_id).toSeq
      assert(streamed == batch, "streamed features must be bit-equal to batch")
    } finally q.stop()
  }

  test("mm_fingerprint collapses duplicate decoded content to one keeper") {
    val rows = graft.analytics.Multimodal.mmFingerprint(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == docs, "group sizes must tile the corpus")
    // fingerprint is a pure function of the grouped features: no two rows
    // may share all five features, and fingerprints must be within [0, P)
    val keys = rows.map(r => (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(keys.distinct.length == keys.length)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < graft.functions.Portable.P))
    // keepers are distinct real documents (min of disjoint groups)
    val keepers = rows.map(_.getLong(1))
    assert(keepers.distinct.length == keepers.length)
    val ids = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(keepers.forall(ids.contains))
  }
}
