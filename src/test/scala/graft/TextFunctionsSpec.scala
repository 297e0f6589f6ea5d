package graft

import org.apache.spark.sql.functions._

import graft.text.TextFunctions

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: lowercases, trims, splits on runs of whitespace") {
    val out = Seq("  The  quick\tBrown\nfox ").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("the", "quick", "brown", "fox")
  }

  test("tokenCount matches token list size") {
    val out = Seq("one two three").toDF("text")
      .select(TextFunctions.tokenCount(col("text")).as("n"))
      .collect()(0).getInt(0)
    out shouldBe 3
  }

  test("hitCount counts stopword occurrences including repeats") {
    val toks = TextFunctions.tokens(col("text"))
    val out = Seq("the cat and the dog").toDF("text")
      .select(TextFunctions.hitCount(toks, TextFunctions.Stopwords).as("n"))
      .collect()(0).getInt(0)
    out shouldBe 3 // the, and, the
  }

  test("nonSpaceChars excludes all whitespace") {
    val out = Seq(" a b\tc ").toDF("text")
      .select(TextFunctions.nonSpaceChars(col("text")).as("n"))
      .collect()(0).getInt(0)
    out shouldBe 3
  }

  test("tokenBlocks: fixed-size blocks with ragged tail") {
    val out = Seq("a b c d e f g h a b c d e f g h x").toDF("text")
      .select(TextFunctions.tokenBlocks(
        TextFunctions.tokens(col("text")), blockLen = 8).as("b"))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("a b c d e f g h", "a b c d e f g h", "x")
  }

  test("tokenBlocks: single short doc is one block") {
    val out = Seq("hi there").toDF("text")
      .select(TextFunctions.tokenBlocks(
        TextFunctions.tokens(col("text")), blockLen = 8).as("b"))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("hi there")
  }

  test("firstOccurrences: drops later repeats, keeps original order") {
    val out = Seq(Tuple1(Seq("x", "y", "x", "z", "y", "x"))).toDF("xs")
      .select(TextFunctions.firstOccurrences(col("xs")).as("k"))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("x", "y", "z")
  }

  test("firstOccurrences on tokenBlocks: repeated block dropped, ragged tail kept") {
    val toks = TextFunctions.tokens(col("text"))
    val out = Seq("a b c d e f g h a b c d e f g h x").toDF("text")
      .select(TextFunctions.firstOccurrences(
        TextFunctions.tokenBlocks(toks, blockLen = 8)).as("k"))
      .collect()(0).getSeq[String](0)
    out shouldBe Seq("a b c d e f g h", "x")
  }

  test("langId: argmax with en>es>de tie-break") {
    val toks = TextFunctions.tokens(col("text"))
    val out = Seq(
        "the a is table",        // en 3 > es 1
        "data row table the",    // es 3 > en 1
        "join merge hash hash",  // de 4
        "nothing matches here")  // all 0 → tie → en
      .toDF("text")
      .select(TextFunctions.langId(toks).as("lang"))
      .collect().map(_.getString(0))
    out shouldBe Array("en", "es", "de", "en")
  }

  test("dirty-text contract: literal tokens and counts for null, empty, edge whitespace, " +
      "NBSP, case folding and supplementary code points") {
    val text = col("text")
    val out = Seq[Option[String]](None, Some(""), Some("\nHello World"), Some("a b\n"),
        Some("x\u00A0y"), Some("\u0130STANBUL \u03A3 stra\u00DFe"), Some("\uD83D\uDE42 ok"))
      .toDF("text")
      .select(TextFunctions.tokens(text), TextFunctions.tokenCount(text),
        TextFunctions.bpeTokenCount(text), TextFunctions.nonSpaceChars(text),
        TextFunctions.langId(TextFunctions.tokens(text)))
      .collect().map(r => (Option(r.getSeq[String](0)).map(_.toList),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getString(4)))
    out.toSeq shouldBe Seq(
      (None, None, None, None, "de"), // every count null; the when chain falls to "de"
      (Some(List("")), Some(1), Some(0), Some(0), "en"),
      (Some(List("", "hello", "world")), Some(3), Some(2), Some(10), "en"), // trim strips spaces only
      (Some(List("a", "b", "")), Some(3), Some(2), Some(2), "en"),
      (Some(List("x\u00A0y")), Some(1), Some(3), Some(3), "en"), // NBSP is not \s
      (Some(List("i\u0307stanbul", "\u03C3", "stra\u00DFe")), Some(3), Some(7), Some(15), "en"),
      (Some(List("\uD83D\uDE42", "ok")), Some(2), Some(2), Some(3), "en"))
  }

  test("dirty-text contract: invalid UTF-8 (a binary cast) keeps the regex formulas' values") {
    val text = col("b").cast("string")
    val df = Seq(Tuple1(Array(0xC3, 0x20, 0x41, 0xED, 0xA0, 0x80, 0xFF, 0x0A, 0x62).map(_.toByte)))
      .toDF("b")
    val got = df.select(TextFunctions.tokens(text), TextFunctions.tokenCount(text),
      TextFunctions.bpeTokenCount(text), TextFunctions.nonSpaceChars(text)).collect()(0).toSeq
    val want = df.select(split(lower(trim(text)), "\\s+"),
      org.apache.spark.sql.functions.size(split(lower(trim(text)), "\\s+")),
      org.apache.spark.sql.functions.size(
        regexp_extract_all(lower(text), lit(TextFunctions.BpePattern), lit(0))),
      org.apache.spark.sql.functions.length(regexp_replace(text, "\\s", "")))
      .collect()(0).toSeq
    got shouldBe want
  }

  test("winnowFingerprints: deterministic, non-empty, shared grams overlap") {
    val df = Seq("abcdefghijklmnop", "abcdefghijklmnop", "zzzzyyyyxxxxwwww").toDF("text")
    val fps = df.select(TextFunctions.winnowFingerprints(col("text")).as("fp"))
      .collect().map(_.getSeq[Long](0))
    fps(0) shouldBe fps(1)      // deterministic
    fps(0) should not be empty
    fps(0).intersect(fps(2)) shouldBe empty // disjoint text → disjoint fingerprints
  }

  test("winnowFingerprints: text shorter than k falls back to whole-text hash") {
    val fps = Seq("abc").toDF("text")
      .select(TextFunctions.winnowFingerprints(col("text"), k = 8).as("fp"))
      .collect()(0).getSeq[Long](0)
    fps.length shouldBe 1
  }

  test("redact: rules apply in order, every match replaced, counts audit") {
    val rules = Seq(("\\b[0-9]{4,}\\b", "<NUM>"), ("\\bbob\\b", "<NAME>"))
    val out = Seq("bob paid 12345 then bob paid 9999")
      .toDF("text")
      .select(TextFunctions.redact(col("text"), rules).as("r"),
        TextFunctions.matchCount(col("text"), rules.head._1).as("n_num"),
        TextFunctions.matchCount(col("text"), "\\bbob\\b").as("n_name"))
      .collect()(0)
    out.getString(0) shouldBe "<NAME> paid <NUM> then <NAME> paid <NUM>"
    out.getInt(1) shouldBe 2
    out.getInt(2) shouldBe 2
  }

  test("redact: word boundary does not match inside longer tokens") {
    val out = Seq("bobcat bob").toDF("text")
      .select(TextFunctions.redact(col("text"), Seq(("\\bbob\\b", "X"))))
      .collect()(0).getString(0)
    out shouldBe "bobcat X"
  }

  test("bigrams: adjacent pairs in order; single token yields none") {
    Seq("a b c").toDF("text")
      .select(TextFunctions.bigrams(TextFunctions.tokens(col("text"))))
      .collect()(0).getSeq[String](0) shouldBe Seq("a b", "b c")
    Seq("solo").toDF("text")
      .select(TextFunctions.bigrams(TextFunctions.tokens(col("text"))))
      .collect()(0).getSeq[String](0) shouldBe Seq.empty
  }

  test("repetitionStats: a one-token-dominated doc flags, a diverse doc does not") {
    import graft.text.QualityOps
    // diverse doc needs ≥ ~18 tokens: with n all-distinct tokens the
    // top-bigram fraction floors at 1/(n-1), so the default 0.06
    // threshold flags anything shorter — the signal presumes documents,
    // not titles (the fixture corpus is 30-80 tokens/doc)
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam ham"),
      (2L, ('a' to 't').map(c => s"w$c").mkString(" ")))
      .toDF("doc_id", "text")
    val out = QualityOps.repetitionStats(docs).orderBy("doc_id").collect()
    out(0).getBoolean(4) shouldBe true   // 9/10 same token
    out(0).getDouble(1) shouldBe 0.9 +- 1e-12
    out(1).getBoolean(4) shouldBe false  // 20 distinct tokens
    out(1).getDouble(2) shouldBe 0.0 +- 1e-12
  }

  test("repetitionStats: one-pass native tallies equal the explode+aggregate twin") {
    import graft.text.QualityOps
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam ham"),
      (2L, ('a' to 't').map(c => s"w$c").mkString(" ")),
      (3L, "x y x y x y x y"),         // repeated bigram both directions
      (4L, "solo"),                     // sub-bigram: dropped by both
      (5L, "  padded   whitespace  "),  // trim + multi-space split
      (6L, "a a a"))                    // all-same tokens and bigrams
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._1).toSeq
    rows(QualityOps.repetitionStats(docs)) shouldBe
      rows(QualityOps.repetitionStatsViaAggregate(docs))
  }

  test("vocab build: ids ordered by count desc then token asc, capped at maxSize") {
    import graft.text.Vocab
    val docs = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=1, d=1 → ids: a=0 (tie with b, token asc), b=1, c=2
    val v = Vocab.build(docs, maxSize = 3).orderBy("id")
      .collect().map(r => (r.getString(0), r.getInt(2)))
    v shouldBe Array(("a", 0), ("b", 1), ("c", 2))
  }

  test("vocab encode: positions preserved, OOV -1, rate exact") {
    import graft.text.Vocab
    val docs = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("doc_id", "text")
    val out = Vocab.encode(docs, Vocab.build(docs, maxSize = 3))
      .orderBy("doc_id").collect()
    out(0).getSeq[Int](out(0).fieldIndex("ids")) shouldBe Seq(1, 1, 1, 0, 0, 2)
    out(1).getSeq[Int](out(1).fieldIndex("ids")) shouldBe Seq(0, -1) // d is OOV
    out(1).getLong(out(1).fieldIndex("n_oov")) shouldBe 1L
    out(1).getDouble(out(1).fieldIndex("oov_rate")) shouldBe 0.5 +- 1e-12
  }

  test("DeflateRatio: repetitive text compresses far below diverse text; empty is null; SQL-registered") {
    import org.apache.spark.sql.GraftSqlShim
    def ratio(s: String): Option[Double] = {
      val df = Seq(s).toDF("t").select(GraftSqlShim.column(
        graft.text.DeflateRatio(GraftSqlShim.expression(col("t")))).as("r"))
      val row = df.collect()(0)
      if (row.isNullAt(0)) None else Some(row.getDouble(0))
    }
    val repetitive = "spam ham " * 200
    val diverse = (1 to 200).map(i => s"w${i * 7919}").mkString(" ")
    val rRep = ratio(repetitive).get
    val rDiv = ratio(diverse).get
    rRep should be < (rDiv / 3) // repetition collapses under deflate
    rDiv should be < 1.0        // natural-ish text still compresses
    rRep should be > 0.0
    ratio("") shouldBe None     // empty text → null, not a division by zero
    // registered in SQL via GraftExtensions
    val viaSql = spark.sql(s"SELECT graft_deflate_ratio('$repetitive') AS r")
      .collect()(0).getDouble(0)
    viaSql shouldBe rRep
  }

  test("CountMin heavyHitters: exact top-k order, contract booleans hold, stable under partitioning") {
    import graft.functions.CountMin
    val items = Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++ Seq("cold1", "cold2")
    val df = items.toDF("k").repartition(7)
    val out = CountMin.heavyHitters(df, "k", k = 2).collect()
    out.map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("hot", 30L), ("warm", 10L))
    all(out.map(_.getBoolean(2))) shouldBe true // est >= exact always (CMS property)
    all(out.map(_.getBoolean(3))) shouldBe true // est <= exact + eps*N at this width
  }

  test("tokenShards: distributed prefix sum equals the global-window cumsum") {
    import graft.text.Packing
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    // force several range partitions so offsets actually matter
    val got = Packing.tokenShards(docs, "doc_id", "n_tok", budget = 1000L, partitions = 7)
      .select("doc_id", "tokens_before", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = docs
      .withColumn("before", sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col("doc_id"), col("before"), floor(col("before") / 1000L).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe expected
    got.map(_._3).max should be > 0L // fixture spans multiple shards
  }

  test("fixedLengthSequences: conservation laws of concat-and-chunk packing") {
    import graft.text.Packing
    import spark.implicits._
    // hand-built stream: 5+3+4+10+2 = 24 tokens, L=6 → 4 sequences
    //   seq0 toks  0-5 : d1[0,5) d2[5,8)  → 2 docs, d1+d2 start here
    //   seq1 toks  6-11: d2      d3[8,12) → 2 docs, d3 starts
    //   seq2 toks 12-17: d4[12,22)        → 1 doc,  d4 starts
    //   seq3 toks 18-23: d4      d5[22,24)→ 2 docs, d5 starts
    val docs = Seq((1L, 5L), (2L, 3L), (3L, 4L), (4L, 10L), (5L, 2L), (6L, 0L))
      .toDF("doc_id", "n_tok")
    val out = Packing.fixedLengthSequences(docs, "doc_id", "n_tok", seqLen = 6L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out shouldBe Map(0L -> ((2L, 2L)), 1L -> ((2L, 1L)), 2L -> ((1L, 1L)), 3L -> ((2L, 1L)))
    // conservation: every doc with tokens starts exactly once
    out.values.map(_._2).sum shouldBe 5L
    // every sequence holds ≥1 doc; zero-token doc 6 contributes nowhere
    out.values.map(_._1).min should be >= 1L
    // partitioning independence
    val repart = Packing.fixedLengthSequences(
      docs.repartition(5), "doc_id", "n_tok", seqLen = 6L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    repart shouldBe out
  }

  // ---- Boilerplate (q182) edge-case pins: nested, malformed, unclosed,
  // link-farm density, and census partition totals
  private def censusOf(html: String) = {
    val r = Seq(html).toDF("html")
      .select(graft.text.Boilerplate.census(col("html")).as("c"))
      .select("c.n_lines", "c.n_kept", "c.n_short", "c.n_lowdensity", "c.extracted")
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
  }

  test("boilerplate: nested tags strip cleanly and long content survives") {
    val (n, kept, _, _, text) = censusOf(
      "<div><span>this content sentence is definitely long enough to keep</span></div>")
    n shouldBe 1L; kept shouldBe 1L
    text shouldBe "this content sentence is definitely long enough to keep"
  }

  test("boilerplate: malformed attribute quote swallows the > but stripping stays best-effort") {
    // `<div class="promo><b>` matches up to the FIRST available `>`:
    // the b-tag is consumed INSIDE the malformed tag match; the rest
    // strips normally. Deterministic, same in DuckDB — the q182 oracle
    // relies on it.
    val (_, kept, short, _, text) = censusOf(
      "<div class=\"promo><b>subscribe now</b></div>")
    text shouldBe "" // dropped line contributes nothing
    kept shouldBe 0L; short shouldBe 1L // "subscribe now" = 13 chars < 25
    val (_, k2, _, _, t2) = censusOf(
      "<div class=\"promo><b>this malformed promo line is easily long enough to pass the gate</b></div>")
    // still strips; text dominates markup → kept despite the malformed tag
    k2 shouldBe 1L
    t2 shouldBe "this malformed promo line is easily long enough to pass the gate"
  }

  test("boilerplate: unclosed < with no > strips nothing; junk counts as text") {
    val junk = "<div class=broken-no-closing-bracket with trailing words here"
    val (_, kept, _, _, text) = censusOf(junk)
    // nothing matched the tag regex, so the whole line IS its text:
    // long enough and density 1.0 → kept verbatim (best-effort contract)
    kept shouldBe 1L
    text shouldBe junk
  }

  test("boilerplate: link farm passes the length gate but fails the density gate") {
    val farm = "<p>short teaser text here padded to length</p>" +
      (1 to 8).map(i => s"""<a href="/p/$i">$i</a>""").mkString
    val (_, kept, short, lowd, _) = censusOf(farm)
    kept shouldBe 0L; short shouldBe 0L; lowd shouldBe 1L
  }

  test("boilerplate: native census is value-identical to the builtin-HOF twin (fixture + edges)") {
    // the DedupSpec twin discipline: the oracle-shaped builtin
    // formulation and the codegen'd one-pass native expression must
    // agree byte-for-byte on real data and on every edge-case string
    val fixture = Tables.documents(spark, sf0001)
      .select(col("doc_id"), concat(lit("<html>\n<p>"), col("text"),
        lit("</p>\n<ul><li><a href=\"/x\">x</a></li></ul>\n</html>")).as("html"))
    val edges = Seq(
      "", "\n", "no markup at all but quite long enough to pass the gate",
      "<div class=\"promo><b>mixed</b></div>\n<a<b> weird <nested <tags>>",
      "   spaces   \n<p>unicode: héllo wörld with enough text to keep</p>",
      "<unclosed with no closing bracket but plenty of trailing text here")
      .toDF("html").withColumn("doc_id", lit(0L))
    for (df <- Seq(fixture, edges.select("doc_id", "html"))) {
      val both = df.select(
          graft.text.Boilerplate.census(col("html")).as("n"),
          graft.text.Boilerplate.censusBuiltin(col("html")).as("b"))
        .collect()
      both.foreach { r => r.getStruct(0) shouldBe r.getStruct(1) }
    }
  }

  // ---- UrlOps (q185) edge-case pins
  test("urlops: canonicalize strips fragment/utm/www, lowercases host ONLY, keeps real params") {
    def canonOf(u: String): String =
      Seq(u).toDF("u").select(graft.text.UrlOps.canonicalize(col("u")).as("c"))
        .collect().head.getString(0)
    // the full gauntlet in one URL
    canonOf("https://WWW.Feed.Example.com/En/Post/7?utm_source=rss&page=2&utm_campaign=x#top") shouldBe
      "https://feed.example.com/En/Post/7?page=2"
    // path case is PRESERVED (paths are case-sensitive), host lowered
    canonOf("HTTPS://API.Site.org/CaseSensitive/Path") shouldBe
      "https://api.site.org/CaseSensitive/Path"
    // all-utm query drops with its '?'
    canonOf("https://a.b/p?utm_a=1&utm_b=2") shouldBe "https://a.b/p"
    // leading utm hands the '?' to the survivor
    canonOf("https://a.b/p?utm_a=1&id=9") shouldBe "https://a.b/p?id=9"
    // no-op on an already-canonical URL
    canonOf("https://a.b/p?id=9") shouldBe "https://a.b/p?id=9"
    // www only strips as a host PREFIX label, not mid-host
    canonOf("https://notwww.example.com/x") shouldBe "https://notwww.example.com/x"
    Seq("https://feed.example.com/en/post/7?page=2").toDF("u")
      .select(graft.text.UrlOps.domainOf(col("u")).as("d"))
      .collect().head.getString(0) shouldBe "feed.example.com"
  }

  test("boilerplate: census outcomes partition the line count") {
    val html = Seq(
      "<html>", "<p>a real paragraph with more than enough text to keep</p>",
      "<ul><li><a href=\"/x\">x</a></li></ul>",
      "<p>tiny</p>", "</html>").mkString("\n")
    val (n, kept, short, lowd, _) = censusOf(html)
    (kept + short + lowd) shouldBe n
    kept shouldBe 1L
  }
}
