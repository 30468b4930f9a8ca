package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TextFunctionsSpec extends AnyFunSuite with graft.CachesScoped {

  test("NfcNormalize + normalizeText: decomposed and precomposed forms converge") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "CAFE\u0301 LATTE\tMENU  du jour"), // decomposed e+acute, tab, runs
      (2L, "caf\u00e9 latte menu du jour"),      // precomposed
      (3L, "control\u0001chars\u0007here"),
      (4L, "plain ascii stays put"),
      (5L, null.asInstanceOf[String])).toDF("id", "t")
    val out = df.select(col("id"),
        TextFunctions.normalizeText(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === out(2L), "NFC must make the two spellings byte-equal")
    assert(out(1L) === "caf\u00e9 latte menu du jour")
    assert(out(3L) === "controlcharshere")
    assert(out(4L) === "plain ascii stays put")
    assert(out(5L) === null, "null-strict")
    // byte-keyed dedup works downstream: identical fingerprints
    val fps = df.filter(col("id") <= 2)
      .select(TextFunctions.fingerprint(TextFunctions.normalizeText(col("t"))))
      .distinct().count()
    assert(fps === 1L)
    // SQL registration serves the same kernel
    GraftFunctions.register(spark2)
    val viaSql = spark2.sql(
      "SELECT nfc_normalize('CAFE\u0301') = 'CAF\u00c9' AS eq").head().getBoolean(0)
    assert(viaSql)
    // the interpreted path shares the kernel with codegen
    val e = NfcNormalize(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString("no\u0308l")))
    assert(e.eval(null).toString === "n\u00f6l")
  }
  private val spark = TestSpark.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("text").select(c.as("v")).head().getAs[T]("v")

  test("filterLines + c4KeepLine: terminal-punct prose survives, stubs die") {
    val docs = Seq(
      (1L, "Home\nRead the full story here.\nSubscribe\nIt really works!\nOk no", "a"),
      (2L, "Nav\nMenu", "b"), // every line dies -> empty text, doc kept
      (3L, "He said \u201cstop now please.\u201d", "c"), // curly close-quote terminal
      (4L, null.asInstanceOf[String], "d")) // null text \u2192 stays null
      .toDF("doc_id", "text", "source")
    val out = TextFunctions.filterLines(docs, "doc_id", "text",
        l => TextFunctions.c4KeepLine(l))
      .orderBy("doc_id")
    assert(out.columns.toSeq === Seq("doc_id", "text", "source"))
    val m = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(m(1L) === "Read the full story here.\nIt really works!")
    assert(m(2L) === "", "fully-gated doc comes back empty, not dropped")
    assert(m(3L) === "He said \u201cstop now please.\u201d")
    assert(m(4L) === null, "null text propagates, never rewritten to \"\"")
    // minWords binds: a 2-word terminal line dies at the default 3
    val short = Seq((9L, "Too short.")).toDF("doc_id", "text")
    assert(TextFunctions.filterLines(short, "doc_id", "text",
      l => TextFunctions.c4KeepLine(l)).head().getString(1) === "")
    assert(TextFunctions.filterLines(short, "doc_id", "text",
      l => TextFunctions.c4KeepLine(l, minWords = 2)).head().getString(1) === "Too short.")
  }

  test("gopherGates: each rule measured and enforced; empty/null fail visibly") {
    val good = (("the results of that study have been consistent with " * 6) +
      "every claim and within tolerance").trim // 66 clean words, stopwords present
    val docs = Seq(
      (1L, good),
      (2L, "short words only here"),                     // word-count floor
      (3L, ("ab " * 60).trim),                           // mean word length floor
      (4L, good + (" ###" * 30)),                        // symbol ratio
      (5L, (1 to 10).map(i => s"- bullet $i").mkString("\n")), // bullets (and count)
      (6L, good.split(" ").map(w => s"$w...").mkString("\n")), // ellipsis lines
      (7L, ("12345 " * 60).trim),                        // alpha fraction
      (8L, ("alpha beta gamma delta " * 15).trim),       // no Gopher stopwords
      (9L, ""), (10L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextFunctions.gopherGates(docs, "doc_id", "text")
    assert(out.columns.toSeq === Seq("doc_id", "n_words", "mean_word_len",
      "symbol_ratio", "bullet_frac", "ellipsis_frac", "alpha_frac",
      "stop_hits", "passes"))
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size === 10)
    assert(rows(1L).getAs[Boolean]("passes"), s"clean doc must pass: ${rows(1L)}")
    for (id <- 2L to 10L)
      assert(!rows(id).getAs[Boolean]("passes"), s"doc $id must fail: ${rows(id)}")
    // the signals localize the failure
    assert(rows(2L).getAs[Long]("n_words") === 4L)
    assert(rows(3L).getAs[Double]("mean_word_len") === 2.0)
    assert(rows(4L).getAs[Double]("symbol_ratio") > 0.1)
    assert(rows(5L).getAs[Double]("bullet_frac") === 1.0)
    assert(rows(6L).getAs[Double]("ellipsis_frac") === 1.0)
    assert(rows(7L).getAs[Double]("alpha_frac") === 0.0)
    assert(rows(8L).getAs[Long]("stop_hits") === 0L)
    assert(rows(9L).getAs[Long]("n_words") === 0L)
    assert(rows(10L).getAs[Long]("n_words") === 0L, "null text = empty document")
    // scan-local: no exchange, no join in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("gopherRepetition: each signal measured exactly; overlap counted once") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "hello world\nhello world\nunique line"),       // duplicate line
      (3L, ("spam ham " * 12).trim),                       // top-2-gram spam
      (4L, "a b c d e a b c d e"),                         // one dup 5-gram
      (5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextFunctions.gopherRepetition(docs, "doc_id", "text")
    assert(out.columns.toSeq === Seq("doc_id", "dup_line_frac",
      "dup_line_char_frac", "top2_char_frac", "top3_char_frac",
      "top4_char_frac", "dup5_char_frac", "dup6_char_frac", "dup7_char_frac",
      "dup8_char_frac", "dup9_char_frac", "dup10_char_frac", "passes"))
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    def d(id: Long, c: String) = rows(id).getAs[Double](c)
    // 1: ten distinct words, no repetition anywhere
    assert((1 to 5).forall(_ => true))
    assert(out.columns.filter(_.endsWith("_frac")).forall(c => d(1L, c) === 0.0))
    assert(rows(1L).getAs[Boolean]("passes"))
    // 2: one duplicate line occurrence out of three lines, 11 of 33 chars
    assert(d(2L, "dup_line_frac") === 0.333333)
    assert(d(2L, "dup_line_char_frac") === 0.333333)
    assert(!rows(2L).getAs[Boolean]("passes"))
    // 3: "spam ham" ×12 claims 12×7 = 84 of 84 word chars (capped at 1)
    assert(d(3L, "top2_char_frac") === 1.0)
    assert(d(3L, "dup5_char_frac") === 1.0, "every 5-gram repeats")
    assert(!rows(3L).getAs[Boolean]("passes"))
    // 4: dup 5-gram "a b c d e" covers all 10 positions ONCE each;
    //    6..10-grams occur once → 0; top-2 "a b" claims 2×2 of 10 chars
    //    (space-free gram length)
    assert(d(4L, "dup5_char_frac") === 1.0)
    assert((6 to 10).forall(n => d(4L, s"dup${n}_char_frac") === 0.0))
    assert(d(4L, "top2_char_frac") === 0.4)
    assert(!rows(4L).getAs[Boolean]("passes"))
    // empty/null: all-zero signals; the repetition gate alone passes them
    // (the word-count floor in gopherGates is what kills empty docs)
    for (id <- Seq(5L, 6L)) {
      assert(out.columns.filter(_.endsWith("_frac")).forall(c => d(id, c) === 0.0))
      assert(rows(id).getAs[Boolean]("passes"))
    }
    // plan pin: the ONLY shuffle is the user repartition-by-id (reused
    // across branches); every agg/join/distinct downstream inherits
    // HashPartitioning(id) — no optimizer-inserted shuffle anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ENSURE_REQUIREMENTS"),
      s"optimizer-inserted exchange leaked into the plan:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL"))
  }

  test("tokenCount: whitespace tokens; empty and blank → 0") {
    assert(one[Long](TextFunctions.tokenCount(col("text")), "a b  c") === 3L)
    assert(one[Long](TextFunctions.tokenCount(col("text")), "") === 0L)
    assert(one[Long](TextFunctions.tokenCount(col("text")), "   ") === 0L)
  }

  test("subwordCount: letter runs, digit runs, single punctuation") {
    // "can't stop 2024!" → can + ' + t + stop + 2024 + ! = 6
    assert(one[Long](TextFunctions.subwordCount(col("text")), "can't stop 2024!") === 6L)
    assert(one[Long](TextFunctions.subwordCount(col("text")), "") === 0L)
  }

  test("punctRatio: punctuation chars over total chars") {
    assert(one[Double](TextFunctions.punctRatio(col("text")), "a,b!") === 0.5)
    assert(one[Double](TextFunctions.punctRatio(col("text")), "") === 0.0)
  }

  test("stopwordRatio against a custom list") {
    val r = one[Double](TextFunctions.stopwordRatio(col("text"), Seq("the", "a")), "the big a cat")
    assert(r === 0.5)
  }

  test("qualityScore stays in [0, 100] across pathological inputs") {
    for (s <- Seq("", "!!!!!!", "the " * 100, "x", "a normal english sentence with the usual words in it")) {
      val q = one[Double](TextFunctions.qualityScore(col("text")), s)
      assert(q >= 0.0 && q <= 100.0, s"score $q out of range for '$s'")
    }
  }

  test("qualityScore penalizes punctuation soup below clean text") {
    val clean = one[Double](TextFunctions.qualityScore(col("text")),
      "the quick brown fox jumps over the lazy dog and runs to the hills for a day")
    val soup = one[Double](TextFunctions.qualityScore(col("text")),
      "%$#@! *&^% !!!! ???? ;;;; ::::")
    assert(clean > soup)
  }

  test("languageId picks the profile with most stopword hits") {
    assert(one[String](TextFunctions.languageId(col("text")),
      "the cat and the dog was in that house") === "en")
    assert(one[String](TextFunctions.languageId(col("text")),
      "der hund ist nicht mit der katze") === "de")
    assert(one[String](TextFunctions.languageId(col("text")),
      "el perro es una mascota por ahora") === "es")
  }

  test("languageId: zero hits → und; ties → alphabetically first") {
    assert(one[String](TextFunctions.languageId(col("text")), "xyzzy qwerty") === "und")
    // 'que' is in both es and fr lists → tie → 'es' (alphabetically first)
    assert(one[String](TextFunctions.languageId(col("text")), "que") === "es")
  }

  test("fingerprint collapses case, punctuation and whitespace variants") {
    val df = Seq("Hello,  World!", "hello world", "HELLO   WORLD").toDF("text")
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
    assert(df.distinct().count() === 1L)
  }

  test("fingerprint distinguishes genuinely different text") {
    val df = Seq("hello world", "goodbye world").toDF("text")
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
    assert(df.distinct().count() === 2L)
  }

  test("winnowedFingerprints: identical docs share the full fingerprint set") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "the  QUICK brown fox jumps over the lazy dog").toDF("text")
      .select(TextFunctions.winnowedFingerprints(col("text")).as("fp"))
    val sets = df.collect().map(_.getSeq[Long](0).toSet)
    assert(sets(0) === sets(1)) // case/whitespace-insensitive
  }

  test("winnowedFingerprints: shared long substring yields shared fingerprints") {
    val a = "completely unrelated prefix text " + ("common shared passage of sufficient length here " * 3)
    val b = "different other beginning words " + ("common shared passage of sufficient length here " * 3)
    val c = "nothing alike whatsoever in this document at all zzz qqq"
    val df = Seq(a, b, c).toDF("text")
      .select(TextFunctions.winnowedFingerprints(col("text")).as("fp"))
    val s = df.collect().map(_.getSeq[Long](0).toSet)
    val abOverlap = (s(0) intersect s(1)).size.toDouble / (s(0) union s(1)).size
    val acOverlap = (s(0) intersect s(2)).size.toDouble / (s(0) union s(2)).size
    assert(abOverlap > 0.3, s"expected high overlap, got $abOverlap")
    assert(acOverlap < 0.05, s"expected no overlap, got $acOverlap")
  }

  test("winnowedFingerprints: short text degrades to a single whole-text hash") {
    val fp = Seq("hi").toDF("text")
      .select(TextFunctions.winnowedFingerprints(col("text"), k = 8, window = 4).as("fp"))
      .head().getSeq[Long](0)
    assert(fp.length === 1)
  }

  test("duplicateNgramFraction: known fractions, short/empty safety") {
    val df = Seq(
      "a b a b a",     // words: 5 toks, 2 distinct -> 0.6; bigrams: 4, 2 distinct -> 0.5
      "all words differ here",   // 0.0 and 0.0
      "x",             // single token: no bigrams -> 0.0
      ""               // empty -> 0.0
    ).toDF("text").select(
      TextFunctions.duplicateNgramFraction(col("text"), 1).as("w"),
      TextFunctions.duplicateNgramFraction(col("text"), 2).as("b"))
      .as[(Double, Double)].collect()
    assert(df(0) === ((1.0 - 2.0 / 5.0, 0.5)))
    assert(df(1) === ((0.0, 0.0)))
    assert(df(2) === ((0.0, 0.0)))
    assert(df(3) === ((0.0, 0.0)))
  }

  test("redactPii masks all four pattern families; piiCount agrees") {
    val df = Seq(
      "mail bob.smith+x@corp.example.org now",          // email
      "host 10.0.255.3 and ssn 123-45-6789",            // ipv4 + ssn
      "call 555-867-5309 or 555.867.5309",              // two phones
      "clean text with no identifiers at all",          // nothing
      "a@b.io 1.2.3.4 111-22-3333 222-333-4444"         // one of each
    ).toDF("text").select(
      TextFunctions.redactPii(col("text")).as("r"),
      TextFunctions.piiCount(col("text")).as("n"))
      .as[(String, Long)].collect()
    assert(df(0) === (("mail <PII> now", 1L)))
    assert(df(1) === (("host <PII> and ssn <PII>", 2L)))
    assert(df(2) === (("call <PII> or <PII>", 2L)))
    assert(df(3) === (("clean text with no identifiers at all", 0L)))
    assert(df(4) === (("<PII> <PII> <PII> <PII>", 4L)))
  }

  test("native winnowing is bit-identical to the HOF form on real documents") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = docs.select(
      TextFunctions.winnowedFingerprints(col("text"), k = 8, window = 4).as("hof"),
      TextFunctions.winnowedFingerprintsNative(col("text"), k = 8, window = 4).as("native"))
      .collect()
    assert(cmp.length > 0)
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("native winnowing edge cases match: multibyte, short, empty, null, window>n") {
    val df = Seq(
      Some("héllo wörld — naïve café ü" * 3), // multibyte k-gram boundaries
      Some("tiny"),                            // len < k -> whole-text hash
      Some(""),                                // empty
      Some("exactly9!"),                       // n=2 hashes < window -> single min
      None: Option[String]                     // null in, null out
    ).toDF("text")
    val cmp = df.select(
      TextFunctions.winnowedFingerprints(col("text"), k = 8, window = 4).as("hof"),
      TextFunctions.winnowedFingerprintsNative(col("text"), k = 8, window = 4).as("native"))
      .collect()
    cmp.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) assert(r.isNullAt(0) === r.isNullAt(1))
      else assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("chunkDocuments: overlapping windows, short/blank docs, disjoint mode") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than one chunk
      (3L, "   ")                                     // blank -> zero chunks
    ).toDF("doc_id", "text")
    val out = TextFunctions.chunkDocuments(df, "doc_id", "text", chunkSize = 4, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, String, Int)].collect()
    // doc 1: starts 0,2,4,6 -> 4 windows of exactly 4 tokens
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(d1.map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(d1.forall(_._4 == 4))
    // doc 2: one short chunk; doc 3: none
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b c", 3)))
    assert(!out.exists(_._1 == 3L))
    // disjoint mode (stride == size) is a partition of the tokens
    val disjoint = TextFunctions.chunkDocuments(df.filter($"doc_id" === 1L),
        "doc_id", "text", chunkSize = 5, stride = 5)
      .orderBy("chunk_id").as[(Long, Int, String, Int)].collect()
    assert(disjoint.map(_._3).mkString(" ") === (1 to 10).map(i => s"w$i").mkString(" "))
    intercept[IllegalArgumentException] {
      TextFunctions.chunkDocuments(df, "doc_id", "text", chunkSize = 4, stride = 5)
    }
  }

  test("ngramNovelty: shared shingles zero out, unique ones count") {
    // doc 1 and 2 share the run "a b c d" (shingles 'a b c'/'b c d');
    // each also has one private tail shingle. doc 3 is fully novel;
    // doc 4 is short (single whole-string shingle, unique); doc 5 empty.
    val docs = Seq(
      (1L, "a b c d x"), // shingles: abc bcd cdx -> 1 novel of 3
      (2L, "a b c d y"), // shingles: abc bcd cdy -> 1 novel of 3
      (3L, "p q r s"),   // pqr qrs -> 2 of 2
      (4L, "hi there"),  // single shingle "hi there" -> 1 of 1
      (5L, "")).toDF("doc_id", "text")
    val out = TextFunctions.ngramNovelty(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toList
    assert(out === List(
      (1L, 3L, 1L, Some(0.333333)),
      (2L, 3L, 1L, Some(0.333333)),
      (3L, 2L, 2L, Some(1.0)),
      (4L, 1L, 1L, Some(1.0)),
      (5L, 0L, 0L, None))) // no grams: null novelty, never divide-by-0
  }

  test("ngramNovelty: within-doc repetition counts once (distinct shingles)") {
    val docs = Seq(
      (1L, "x y z x y z x y z"), // repeated run: each distinct shingle once
      (2L, "totally different words here")).toDF("doc_id", "text")
    val out = TextFunctions.ngramNovelty(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect().toList
    // doc1 shingles: xyz yzx zxy (distinct) — all unique to doc1
    assert(out.head === ((1L, 3L, 3L, Some(1.0))))
    assert(out(1) === ((2L, 2L, 2L, Some(1.0))))
  }

  test("native winnowing rejects non-string input and bad params") {
    intercept[IllegalArgumentException] {
      WinnowFingerprints(col("x"), 0, 4)
    }
    val e = intercept[Exception] {
      Seq(1L).toDF("x").select(WinnowFingerprints(col("x"), 8, 4)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"), e.getMessage)
  }

  test("readability: counts and Flesch on hand-computed text") {
    val rows = Seq(
      ("The cat sat. The dog ran!", 0),        // 6 words, 2 sentences, 6 vowel groups
      ("no terminal punctuation here", 1),     // 4 words, 1 sentence (min-1 rule)
      ("", 2),                                 // empty: 0 words, 0 sentences, null flesch
      ("   ", 3),                              // blank: same as empty
      (null.asInstanceOf[String], 4))          // null text: all null
      .toDF("text", "i")
    val got = rows.select(col("i"),
        TextFunctions.tokenCount(col("text")).as("w"),
        TextFunctions.sentenceCount(col("text")).as("s"),
        TextFunctions.syllableCount(col("text")).as("y"),
        TextFunctions.fleschReadingEase(col("text")).as("f"))
      .orderBy("i")
      .collect()
    // row 0: words=6 sentences=2 syllables: e,a,a,e,o,a → 6
    assert(got(0).getLong(1) === 6L && got(0).getLong(2) === 2L && got(0).getLong(3) === 6L)
    val f0 = 206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (6.0 / 6.0)
    assert(math.abs(got(0).getDouble(4) - f0) < 1e-12)
    // row 1: min-1 sentence; syllables: o,e,i,a,u,ua,io,e,e → count vowel runs
    assert(got(1).getLong(2) === 1L)
    // rows 2/3: zero words → null score, zero sentences
    for (i <- Seq(2, 3)) {
      assert(got(i).getLong(1) === 0L && got(i).getLong(2) === 0L)
      assert(got(i).isNullAt(4))
    }
    // row 4: null text propagates null everywhere (visible-null rule)
    for (j <- 1 to 4) assert(got(4).isNullAt(j))
  }

  test("readability: vowel-group syllables match a manual scan") {
    // "beautiful" → eau,i,u = 3 groups; "rhythm" → y = 1; "xyz" → y = 1
    val y = Seq("beautiful rhythm xyz").toDF("text")
      .select(TextFunctions.syllableCount(col("text"))).as[Long].head()
    assert(y === 5L)
  }

  test("concordance: every occurrence, clipped windows, case-folded") {
    val docs = Seq(
      (1L, "Spark runs fast but spark also scales"),
      (2L, "spark"),              // bare term: both contexts empty
      (3L, "no match here"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextFunctions.concordance(docs, "doc_id", "text", "spark", window = 2)
      .orderBy("doc_id", "pos")
      .as[(Long, Int, String, String)].collect().toList
    assert(out === List(
      (1L, 1, "", "runs fast"),          // leading occurrence: empty before
      (1L, 5, "fast but", "also scales"),
      (2L, 1, "", "")))                  // 1-token doc: both empty
    // scan-local: no shuffle in the plan
    val plan = TextFunctions.concordance(docs, "doc_id", "text", "spark")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sttr: hand-computed segments, short-doc fallback, spam collapse, nulls") {
    val rows = Seq(
      (1L, Some("a b c d e")),        // 5 toks, w=3: one full segment → 3/3
      (2L, Some("a a a a a a")),      // 2 segments of "a" → (1+1)/6
      (3L, Some("x x y")),            // short (<3): whole-doc TTR 2/3
      (4L, Some("")),                 // empty → null
      (5L, None)                      // null → null
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextFunctions.sttr(col("text"), window = 3).as("s"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L) === Some(1.0))
    assert(out(2L) === Some(0.333333))
    assert(out(3L) === Some(0.666667))
    assert(out(4L) === None && out(5L) === None)
    // the diversity signal: varied prose outscores token-count-equal spam
    val varied = (1 to 100).map(i => s"tok$i").mkString(" ")
    val spam = Seq.fill(100)("buy now cheap").mkString(" ").split(" ").take(100).mkString(" ")
    val d2 = Seq((1L, varied), (2L, spam)).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.sttr(col("text"), 25).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(d2(1L) === 1.0 && d2(2L) < 0.2, d2.toString)
    // scan-local
    val plan = rows.select(TextFunctions.sttr(col("text"), 25))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("selfBleu2: twins score 1, unique vocabulary scores 0, clipping is exact") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c d"), // exact twins → 1.0
      (3L, "q r s t"),                  // unique vocab → p1 = 0 → 0.0
      (4L, "a a a b")                   // 'a'×3 vs max-other 1 → clipped
    ).toDF("doc_id", "text")
    val out = TextFunctions.selfBleu2(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) === ((1.0, 1.0, 1.0)))
    assert(out(2L) === ((1.0, 1.0, 1.0)))
    assert(out(3L) === ((0.0, 0.0, 0.0)))
    // doc 4 unigrams: a×3 clipped to 1 (docs 1/2 have one 'a'), b→1:
    // p1 = 2/4; bigrams "a a"×2 → 0 (nowhere else), "a b" → 1
    // (docs 1/2 have it): p2 = 1/3
    assert(out(4L)._1 === 0.5)
    assert(out(4L)._2 === 0.333333)
    assert(out(4L)._3 === math.rint(math.sqrt(0.5 * 0.333333) * 1e6) / 1e6)
  }

  test("selfBleu2: the unique max holder clips to the runner-up, co-max docs keep m1") {
    // gram 'z': doc 1 has 3, docs 2 and 3 have 2 each.
    // doc 1 (unique max) clips z to m2=2; docs 2/3 clip to m1... which
    // for them is min(2, 3) = 2 anyway — so add gram 'w' where BOTH
    // docs 2 and 3 hold the max (2 each): each keeps m1=2 because the
    // OTHER doc also attains it.
    val df = Seq(
      (1L, "z z z"), (2L, "z z w w"), (3L, "z z w w")
    ).toDF("doc_id", "text")
    val out = TextFunctions.selfBleu2(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === 0.666667)       // min(3, 2)/3
    assert(out(2L) === 1.0)            // z: min(2,3)=2; w: min(2,2)=2 → 4/4
    assert(out(3L) === 1.0)
  }

  test("mmdLinear: identical samples give exactly 0; a shifted sample lights up") {
    import graft.functions.SimilarityFunctions
    val vs = (0L until 40L).map(i => (i,
      Array.tabulate(64)(d => ((i * 31 + d * 7) % 11 - 5).toFloat / 5f)))
    val x = vs.toDF("idx", "embedding")
    val zero = SimilarityFunctions.mmdLinear(x, x, denom = 64.0)
      .select("mmd2").head().getDouble(0)
    assert(zero === 0.0, "h cancels term-for-term when x = y")
    val y = x.select(col("idx"),
      org.apache.spark.sql.functions.transform(
        col("embedding").cast("array<double>"),
        v => v + lit(2.0)).as("embedding"))
    val drift = SimilarityFunctions.mmdLinear(x, y, denom = 64.0)
      .select("mmd2").head().getDouble(0)
    assert(drift > 0.05, s"planted shift must light up the statistic: $drift")
  }
}
