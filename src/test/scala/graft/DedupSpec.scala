package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exactGroups: one group per distinct text, min id survives") {
    val df = docsDF(1L -> "hello world", 2L -> "hello world", 3L -> "other")
    val out = Dedup.exactGroups(df).orderBy("keep_id").collect()
    out.map(r => (r.getLong(1), r.getLong(2))) shouldBe Array((1L, 2L), (3L, 1L))
  }

  test("contaminationStats: shared 3-gram flags the corpus doc, disjoint doc clean") {
    val corpus = docsDF(
      1L -> "alpha beta gamma delta",   // shares "alpha beta gamma" + "beta gamma delta"? bench has "alpha beta gamma epsilon" -> only "alpha beta gamma"
      2L -> "one two three four",       // disjoint from bench
      3L -> "x y")                      // shorter than n: 0 grams, clean
    val bench = docsDF(10L -> "alpha beta gamma epsilon")
    val out = Dedup.contaminationStats(corpus, bench, n = 3)
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))) shouldBe
      Array((1L, 2, 1L, true), (2L, 2, 0L, false), (3L, 0, 0L, false))
  }

  test("contaminationStats: a doc repeating a bench gram counts every position") {
    val corpus = docsDF(1L -> "a b c z a b c")
    val bench = docsDF(10L -> "a b c")
    val out = Dedup.contaminationStats(corpus, bench, n = 3).collect()
    // positions: "a b c", "b c z", "c z a", "z a b", "a b c" -> 2 hits of 5
    out.map(r => (r.getInt(1), r.getLong(2))) shouldBe Array((5, 2L))
  }

  test("contaminationStatsBloom: identical output to the exact arm on a mixed corpus") {
    val corpus = docsDF(
      1L -> "alpha beta gamma delta",
      2L -> "one two three four",
      3L -> "x y",
      4L -> "a b c z a b c")
    val bench = docsDF(10L -> "alpha beta gamma epsilon", 11L -> "a b c")
    val exact = Dedup.contaminationStats(corpus, bench, n = 3)
      .orderBy("doc_id").collect().toSeq
    val bloom = Dedup.contaminationStatsBloom(corpus, bench, n = 3)
      .orderBy("doc_id").collect().toSeq
    bloom shouldBe exact
  }

  test("Bloom.fit/mightContain: no false negatives; fpp keeps misses mostly out") {
    val member = (1L to 500L).toDF("v")
    val bytes = graft.functions.Bloom.fit(member, "v", expectedItems = 500, fpp = 0.01)
    val probe = (1L to 2000L).toDF("v")
      .select(col("v"), graft.functions.Bloom.mightContain(bytes, col("v")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // membership is never missed
    (1L to 500L).foreach(v => withClue(s"member $v") { probe(v) shouldBe true })
    // false-positive sliver stays near fpp (generous 5x bound)
    val fps = (501L to 2000L).count(probe(_))
    fps should be <= 75
    // driver-side point check agrees with the column probe
    val bf = graft.functions.Bloom.read(bytes)
    bf.mightContainLong(42L) shouldBe true
  }

  test("minhash signatures: identical texts get identical signatures; length k") {
    val df = docsDF(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "v w x y z")
    val sigs = Dedup.minhashSignatures(df, k = 16).orderBy("doc_id").collect()
    val s1 = sigs(0).getSeq[Long](1)
    val s2 = sigs(1).getSeq[Long](1)
    val s3 = sigs(2).getSeq[Long](1)
    s1.length shouldBe 16
    s1 shouldBe s2
    s1 should not be s3
  }

  test("minhash signature ignores token order and duplication (set semantics)") {
    val df = docsDF(1L -> "a b c", 2L -> "c b a a b")
    val sigs = Dedup.minhashSignatures(df, k = 16).orderBy("doc_id").collect()
    sigs(0).getSeq[Long](1) shouldBe sigs(1).getSeq[Long](1)
  }

  test("LSH candidate pairs: exact dup pair found with est_jaccard 1.0; disjoint docs absent") {
    val df = docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six")
    val pairs = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(df, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.5)
      .collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((1L, 2L))
    pairs(0).getDouble(2) shouldBe 1.0
  }

  test("LSH bucket cap: over-cap buckets emit star pairs to the bucket-min anchor (skew guard)") {
    // 5 identical docs → every band bucket has size 5 > cap 4 → no
    // quadratic self-join, but the bucket is NOT dropped: each member
    // pairs with the min-id anchor, keeping the family connected at
    // O(bucket) cost (round-5 adversarial-sweep fix — the drop policy
    // left 10k-doc boilerplate families fully un-deduped)
    val df = docsDF((1L to 5L).map(i => i -> "same same text here"): _*)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(df, k = 8), bands = 2, rowsPerBand = 4,
      minEst = 0.0, bucketCap = 4)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    got shouldBe Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    // identical docs: the est filter keeps stars at 1.0
    pairs.where(col("est_jaccard") === 1.0).count() shouldBe 4
  }

  test("LSH in-bucket verification (r16) equals the join formulation, mixed corpus incl. over-cap") {
    // a messy corpus: one boilerplate family (over-cap at cap 3),
    // two near-dup pairs, singletons — every branch of the operator
    val fam = (1L to 5L).map(i => i -> "common boilerplate family text body here")
    val near = Seq(
      10L -> "the quick brown fox jumps over the lazy dog today",
      11L -> "the quick brown fox jumps over the lazy dog tonight",
      20L -> "pack my box with five dozen liquor jugs again",
      21L -> "pack my box with five dozen liquor jugs against",
      30L -> "completely unrelated text about joins and shuffles",
      31L -> "another singleton with its own vocabulary entirely")
    val df = docsDF(fam ++ near: _*)
    for (minEst <- Seq(0.25, 0.5, 0.9)) {
      val sigs = Dedup.minhashSignatures(df, k = 16).persist()
      val got = Dedup.minhashCandidatePairs(sigs, bands = 4, rowsPerBand = 4,
          minEst = minEst, bucketCap = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      // reference: the r15 join formulation, inline
      val banded = Dedup.bandedOf(sigs, 4, 4)
      val sized = banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("count"), min("doc_id").as("anchor"))
      val overCap = sized.where(col("count") > 3).select("band", "bh", "anchor")
      val safe = banded.join(overCap.select("band", "bh"), Seq("band", "bh"), "left_anti")
      val rawPairs = safe.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
        .join(safe.select(col("band"), col("bh"), col("doc_id").as("doc_b")), Seq("band", "bh"))
        .where(col("doc_a") < col("doc_b")).select("doc_a", "doc_b")
      val stars = banded.join(overCap, Seq("band", "bh"))
        .where(col("doc_id") =!= col("anchor"))
        .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"))
      val want = rawPairs.unionByName(stars).distinct()
        .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
        .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), Dedup.sigAgreement(16).as("e"))
        .where(col("e") >= minEst)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      got shouldBe want
      sigs.unpersist()
    }
  }

  test("containmentPairs: asymmetric — fragment⊂superset found, reverse direction filtered") {
    val frag = (1 to 12).map(i => s"w$i").mkString(" ")          // 12 tokens → 8 5-grams
    val superset = s"$frag extra tokens beyond the fragment body here now"
    val df = docsDF(1L -> frag, 2L -> superset, 3L -> "totally unrelated words going on and on for a while today")
    val out = Dedup.containmentPairs(df, n = 5, minContain = 0.8, minGrams = 5, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
    out.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L)) // frag→superset only
    out.head._3 shouldBe 1.0 // every fragment gram appears in the superset
    // superset→fragment is NOT a containment (8 of its 16 grams match)
  }

  test("containmentPairs: dfCap drops boilerplate grams from the index") {
    // one 5-gram shared by many docs; with dfCap below that df the gram
    // generates no pairs at all
    val shared = "a b c d e"
    val df = docsDF((1L to 6L).map(i => i -> s"$shared uniq$i x$i y$i z$i q$i"): _*)
    val uncapped = Dedup.containmentPairs(df, n = 5, minContain = 0.1,
      minGrams = 1, dfCap = 100)
    val capped = Dedup.containmentPairs(df, n = 5, minContain = 0.1,
      minGrams = 1, dfCap = 5)
    uncapped.count() should be > 0L   // the shared gram links every doc pair
    capped.count() shouldBe 0L        // df=6 > cap=5 → dropped, no junk pairs
  }

  test("cdcChunks: content-defined boundaries re-align after an insertion; fixed grid doesn't") {
    // 200 deterministic pseudo-words → ~a dozen content-defined cuts
    val words = (1 to 200).map(i => s"tok${i * 7919}")
    val original = words.mkString(" ")
    val edited = (words.take(5) ++ Seq("INSERTED") ++ words.drop(5)).mkString(" ")
    val df = docsDF(1L -> original, 2L -> edited)
    val chs = Dedup.cdcChunks(df, modulus = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val shared = chs(1L).toSet.intersect(chs(2L).toSet).size
    // the insertion redraws ONLY the chunk it lands in; everything
    // after the next boundary re-aligns
    shared should be >= (chs(1L).size - 2)
    shared should be < chs(1L).size // the touched chunk did change
    // fixed-grid contrast: every 16-token chunk after the edit shifts
    val fixedShared = { // q90's grid: disjoint 16-token windows
      def grid(ws: Seq[String]) = ws.grouped(16).map(_.mkString(" ")).toSet
      grid(words).intersect(grid(words.take(5) ++ Seq("INSERTED") ++ words.drop(5))).size
    }
    fixedShared should be <= 1 // only the chunk(s) before the edit survive
    // determinism: same text, same chunks
    Dedup.cdcChunks(docsDF(9L -> original), modulus = 16)
      .collect().head.getSeq[Long](1) shouldBe chs(1L)
  }

  test("simhash: identical docs equal fingerprints; near-dup within small hamming") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = docsDF(1L -> base, 2L -> base, 3L -> (base + " extraA extraB"))
    val fps = Dedup.simhash(df).orderBy("doc_id").collect()
    fps(0).getLong(1) shouldBe fps(1).getLong(1)
    val ham = java.lang.Long.bitCount(fps(0).getLong(1) ^ fps(2).getLong(1))
    assert(ham <= 8, s"near-dup hamming $ham too large")
  }

  test("simhash SQL surface: graft_simhash equals the DataFrame path") {
    val viaSql = spark.sql(
      "SELECT graft_simhash(array('a','b','c')) AS fp").collect()(0).getLong(0)
    val viaDf = Dedup.simhash(docsDF(1L -> "a b c")).collect()(0).getLong(1)
    viaSql shouldBe viaDf
  }

  test("minhash SQL surface: graft_minhash equals the DataFrame path") {
    val viaSql = spark.sql(
      "SELECT graft_minhash(array('a','b','c')) AS sig").collect()(0).getSeq[Long](0)
    val viaDf = Dedup.minhashSignatures(docsDF(1L -> "a b c"))
      .collect()(0).getSeq[Long](1)
    viaSql shouldBe viaDf
  }

  test("graft_minhash honors an integer-literal k argument and rejects bad arity " +
      "(ADVICE r3 #4: a second argument was silently dropped)") {
    val sig16 = spark.sql(
      "SELECT graft_minhash(array('a','b','c'), 16) AS sig").collect()(0).getSeq[Long](0)
    sig16.length shouldBe 16
    // k=16 must equal the DataFrame path at the same k, not a truncation of k=32
    val viaDf = Dedup.minhashSignatures(docsDF(1L -> "a b c"), k = 16)
      .collect()(0).getSeq[Long](1)
    sig16 shouldBe viaDf
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array('a'), 16, 2)").collect()
    }
    err.getMessage should include("graft_minhash")
  }

  test("chunkDedupRemove: shared chunks removed from every doc, unique text survives " +
      "in order, fully-duplicated docs reassemble to empty") {
    val shared = (1 to 20).map(i => s"boiler$i").mkString(" ") // exactly one chunk at w=20
    val docs = Seq(
      (1L, s"$shared unique one"),   // chunk0 = shared (dup), chunk1 = "unique one"
      (2L, s"$shared other text"),   // chunk0 = shared (dup), chunk1 = "other text"
      (3L, shared),                  // ONLY the shared chunk → kept_text empty
      (4L, "completely different words")).toDF("doc_id", "text")
    val out = Dedup.chunkDedupRemove(docs, w = 20).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    out(0) shouldBe ((1L, 2, 1, "unique one"))
    out(1) shouldBe ((2L, 2, 1, "other text"))
    out(2) shouldBe ((3L, 1, 1, ""))
    out(3) shouldBe ((4L, 1, 0, "completely different words"))
  }

  test("nearDupClusters: chains merge into one component, survivor is min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
  }

  test("nearDupClusters distributed path agrees with driver union-find on a long chain") {
    // a 40-node chain + a separate triangle, forced down the iterative path
    val chain = (1L until 40L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L)))
      .toDF("doc_a", "doc_b")
    val dist = Dedup.nearDupClustersDistributed(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drv = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dist shouldBe drv
    dist(40L) shouldBe 1L
    dist(102L) shouldBe 100L
  }

  test("nearDupClusters driver path: Spark job count pinned (pair count + union-find collect)") {
    // the benchmarked dedup.cluster stage takes this path on every
    // pass: the pair count, then the union-find collect, as AQE splits
    // them into jobs (4) — any added pass changes the number
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("doc_a", "doc_b")
    jobsOf("neardup-jobs") { Dedup.nearDupClusters(pairs) } shouldBe 4
  }

  test("minhashCandidatePairs skips rows whose signature is null") {
    val sigs = Dedup.minhashSignatures(docsDF(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six"), k = 8)
    // two null-signature rows land in the same band buckets, so the
    // in-bucket pair loop would meet them together
    val dirty = sigs.unionByName(
      Seq[(Long, Array[Long])]((4L, null), (5L, null)).toDF("doc_id", "sig"))
    def pairsOf(s: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidatePairs(s, bands = 2, rowsPerBand = 4, minEst = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val clean = pairsOf(sigs)
    clean should contain ((1L, 2L, 1.0))
    pairsOf(dirty) shouldBe clean
  }

  test("dedupByClusters keeps survivors and untouched docs") {
    val docs = docsDF(1L -> "x", 2L -> "x", 3L -> "x", 9L -> "untouched")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.dedupByClusters(docs, Dedup.nearDupClusters(pairs))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 9L)
  }

  test("simhashNearDupPairs: pigeonhole blocking finds identical pair, skips far pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val far  = (1 to 40).map(i => s"other$i").mkString(" ")
    val fps = Dedup.simhash(docsDF(1L -> base, 2L -> base, 3L -> far))
    val out = Dedup.simhashNearDupPairs(fps, maxHamming = 3).collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) shouldBe Array((1L, 2L, 0))
  }

  test("native MinHashSignature equals the explode+aggregate formulation (and the oracle)") {
    val df = docsDF(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> "the the the repeated tokens the the")
    val native = Dedup.minhashSignaturesNative(df, k = 16).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    val viaAgg = Dedup.minhashSignaturesViaAggregate(df, k = 16).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    native shouldBe viaAgg
  }

  test("native SigAgreement equals the unrolled element_at/when tree; null array -> 0.0") {
    val k = 16
    val rnd = new scala.util.Random(7)
    val rows = (1 to 50).map { i =>
      val a = Array.fill(k)(rnd.nextInt(4).toLong) // small domain -> frequent agreement
      val b = Array.fill(k)(rnd.nextInt(4).toLong)
      (i.toLong, a.toSeq, b.toSeq)
    } :+ ((99L, Seq.fill(k)(5L), Seq.fill(k)(5L))) // full agreement
    val df = rows.toDF("id", "sig_a", "sig_b")
    val tree = (0 until k)
      .map(i => when(element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1), 1).otherwise(0))
      .reduce(_ + _) / lit(k)
    val got = df.select(col("id"), Dedup.sigAgreement(k).as("e"), tree.as("t")).collect()
    got.foreach(r => r.getDouble(1) shouldBe r.getDouble(2))
    // a null array behaves like the tree did: every CASE falls to 0
    val withNull = Seq((1L, null.asInstanceOf[Seq[Long]], Seq.fill(k)(5L)))
      .toDF("id", "sig_a", "sig_b")
      .select(Dedup.sigAgreement(k).as("e")).collect()
    withNull.head.getDouble(0) shouldBe 0.0
  }

  test("minhashSignaturesNative: drops exactly the null-text docs; empty/blank text keeps a signature") {
    // the r16 text-IS-NOT-NULL filter must be equivalent to the old
    // sig-IS-NOT-NULL: sig is null iff text is null (split of any
    // non-null text yields at least [""], which hashes)
    val df = Seq((1L, "regular tokens here"), (2L, ""), (3L, "   "),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val native = Dedup.minhashSignaturesNative(df, k = 16).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    native.map(_._1) shouldBe Array(1L, 2L, 3L)
    native.foreach { case (_, sig) => sig should have size 16 }
    // and the blank docs agree with the aggregate twin (which drops
    // null-text docs the same way: explode of a null array emits none)
    val viaAgg = Dedup.minhashSignaturesViaAggregate(df, k = 16).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    native shouldBe viaAgg
  }

  test("dedupIncremental: batch deduped against corpus index, then within itself") {
    val corpusText = (1 to 30).map(i => s"ctext$i").mkString(" ")
    val uniqueText = (1 to 30).map(i => s"fresh$i").mkString(" ")
    val corpus = docsDF(1L -> corpusText, 2L -> (1 to 30).map(i => s"base$i").mkString(" "))
    val batch = docsDF(
      10L -> corpusText,   // duplicate of corpus doc 1 → dropped vs index
      11L -> uniqueText,   // genuinely new → kept
      12L -> uniqueText)   // duplicate of 11 within the batch → dropped
    val kept = Dedup.dedupIncremental(batch, corpus, minEst = 0.9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    kept shouldBe Array(11L)
  }

  test("minhashCandidatePairsBetween: directional pairs only (batch -> corpus)") {
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val pairs = Dedup.minhashCandidatePairsBetween(
      Dedup.minhashSignatures(docsDF(10L -> t)),
      Dedup.minhashSignatures(docsDF(1L -> t, 2L -> "something else entirely here")),
      minEst = 0.9).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((10L, 1L))
    pairs.head.getDouble(2) shouldBe 1.0
  }

  test("dupSpans: whole-doc duplicates, overlapping seeds merged, disjoint spans kept apart") {
    // vocabulary: wN tokens are the shared template, uN/vN/xN are unique
    val w = (0 until 20).map(i => s"w$i")
    val doc1 = w.mkString(" ")                                   // 20 tokens
    val doc2 = doc1                                              // exact whole-doc dup
    val doc3 = ((0 until 5).map(i => s"u$i") ++ w.take(10) ++
      (0 until 5).map(i => s"v$i")).mkString(" ")                // shared run at 5..14
    val doc4 = (w.take(10) ++ (0 until 10).map(i => s"x$i") ++
      w.drop(10)).mkString(" ")                                  // two runs split by noise
    val out = Dedup.dupSpans(
        docsDF(1L -> doc1, 2L -> doc2, 3L -> doc3, 4L -> doc4), minLen = 8)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1/doc2: ONE span covering every position (whole-doc duplicate),
    // 13 windows each — never 13 fragment rows. doc3: the 3 overlapping
    // seed windows inside w0..w9 coalesce into one 10-token span at
    // position 5. doc4: two maximal spans (w0..w9 at 0, w10..w19 at 20)
    // stay SEPARATE across the 10-token unique gap.
    out shouldBe Array(
      (1L, 0L, 20L, 13L), (2L, 0L, 20L, 13L),
      (3L, 5L, 10L, 3L),
      (4L, 0L, 10L, 3L), (4L, 20L, 10L, 3L))
    // sub-minLen shared runs are invisible: two docs sharing only 7
    // tokens produce no 8-token window and therefore no span
    val short = Dedup.dupSpans(docsDF(
      1L -> (w.take(7) ++ Seq("aa")).mkString(" "),
      2L -> (w.take(7) ++ Seq("bb")).mkString(" ")), minLen = 8)
    short.count() shouldBe 0L
  }

  test("dupSpansMulti: each min_len slice equals the single-length dupSpans census") {
    // reuses the dupSpans fixture shapes plus a 16-token shared run so
    // the three lengths disagree: L=8 sees everything, L=16 only the
    // long template, L=18 nothing (empty slice)
    val w = (0 until 20).map(i => s"w$i")
    val docs = docsDF(
      1L -> w.mkString(" "),
      2L -> w.mkString(" "),
      3L -> ((0 until 5).map(i => s"u$i") ++ w.take(10) ++
        (0 until 5).map(i => s"v$i")).mkString(" "),
      4L -> (w.take(10) ++ (0 until 10).map(i => s"x$i") ++
        w.drop(10)).mkString(" "))
    val lens = Seq(8, 16, 18)
    val multi = Dedup.dupSpansMulti(docs, lens)
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).sorted.toSeq)
      .toMap
    for (l <- lens) {
      val single = Dedup.dupSpans(docs, l).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      multi.getOrElse(l, Seq.empty) shouldBe single
    }
  }

  test("CappedSetPairStream: under-cap grams emit ordered pairs, over-cap grams one marker") {
    // sorted (gram, member, occ) stream: g1 has 3 members (3 pairs),
    // g2 crosses cap 3 (marker, nothing else), g3 has 1 member (none)
    val rows = Iterator(
      ("g1", "a", 2L), ("g1", "b", 5L), ("g1", "c", 1L),
      ("g2", "a", 1L), ("g2", "b", 1L), ("g2", "c", 1L), ("g2", "d", 1L),
      ("g3", "z", 9L))
    val out = new graft.dedup.CappedSetPairStream(rows, cap = 3).toList
    out.filter(_._1 == 0) shouldBe List(
      (0, "a", "b", 7L), (0, "a", "c", 3L), (0, "b", "c", 6L))
    out.count(_._1 == 1) shouldBe 1
  }

  test("dupSpansAgainst: shard spans report only corpus-backed text, not shard-internal dups") {
    val w = (0 until 20).map(i => s"w$i")
    val corpus = docsDF(100L -> w.mkString(" "))            // holds the template
    val batch = docsDF(
      10L -> ((0 until 5).map(i => s"u$i") ++ w.take(10)).mkString(" "), // tail backed by corpus
      20L -> (0 until 15).map(i => s"z$i").mkString(" "),   // clean
      30L -> (0 until 15).map(i => s"z$i").mkString(" "))   // dup of 20 — but NOT in corpus
    val out = Dedup.dupSpansAgainst(batch, corpus, minLen = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // only doc 10's corpus-backed span appears: shard-internal duplicates
    // (docs 20/30) are dedupIncremental's job, not decontamination's —
    // and the corpus doc itself is never emitted
    out shouldBe Array((10L, 5L, 10L, 3L))
  }

  test("spanScrub: owner keeps its copy, non-owners lose exactly the covered positions") {
    val w = (0 until 20).map(i => s"w$i")
    val df = docsDF(
      1L -> w.mkString(" "),                                   // owner of every template
      2L -> w.mkString(" "),                                   // whole-doc dup -> fully scrubbed
      3L -> ((0 until 5).map(i => s"u$i") ++ w.take(10)).mkString(" ")) // loses the 10-token tail
    val out = Dedup.spanScrub(df, minLen = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    // doc 1 (min id) owns every duplicated window: NOT in the output at
    // all — the corpus keeps exactly one copy of the template. doc 2
    // loses all 20 tokens (hash of the empty string pins the
    // fully-scrubbed rewrite); doc 3 keeps its 5 unique tokens.
    out.map(_._1) shouldBe Array(2L, 3L)
    out(0) shouldBe ((2L, 20L, 20L, 0L,
      "d41d8cd98f00b204e9800998ecf8427e")) // md5("")
    val d3 = out(1)
    (d3._2, d3._3, d3._4) shouldBe ((15L, 10L, 333333L))
    // the kept rewrite is exactly the 5-token unique prefix
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("u0 u1 u2 u3 u4".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    d3._5 shouldBe expect
  }

  test("spanScrub: Spark job count pinned (call + collect)") {
    // one lazy plan: no persist, no eager count — the jobs are the
    // collect's AQE stages only; any added pass changes the number
    val w = (0 until 20).map(i => s"w$i")
    val df = docsDF(
      1L -> w.mkString(" "),
      2L -> w.mkString(" "),
      3L -> ((0 until 5).map(i => s"u$i") ++ w.take(10)).mkString(" "))
    jobsOf("spanscrub-jobs") { Dedup.spanScrub(df, minLen = 8).collect() } shouldBe 5
  }

  /** A 16-byte window key, as spanScrub ships it. A fresh array per
    * call, so the stream must compare keys by content. */
  private def key(g: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))

  test("SpanOwnerStream: empty input and single-holder grams emit nothing") {
    new graft.dedup.SpanOwnerStream(Iterator.empty).toList shouldBe Nil
    // one doc holding the gram, even repeatedly, owns every occurrence
    new graft.dedup.SpanOwnerStream(Iterator((key("g"), 5L, 0), (key("g"), 5L, 3),
      (key("g"), 5L, 9))).toList shouldBe Nil
  }

  test("SpanOwnerStream: owner repeats stay, every non-owner occurrence emits its start") {
    val rows = Iterator((key("g"), 1L, 0), (key("g"), 1L, 4), (key("g"), 2L, 0),
      (key("g"), 2L, 7), (key("g"), 3L, 2))
    new graft.dedup.SpanOwnerStream(rows).toList shouldBe List((2L, 0), (2L, 7), (3L, 2))
  }

  test("SpanOwnerStream: the owner resets between consecutive grams") {
    // b's owner is 2 (not a's 1); c is held by 3 alone
    val rows = Iterator((key("a"), 1L, 0), (key("a"), 2L, 1), (key("b"), 2L, 5),
      (key("b"), 3L, 6), (key("c"), 3L, 0))
    val it = new graft.dedup.SpanOwnerStream(rows)
    it.toList shouldBe List((2L, 1), (3L, 6))
    it.hasNext shouldBe false
  }

  test("SpanOwnerStream: keys that differ only in the last byte are different grams") {
    // two digests sharing a 15-byte prefix: doc 2 owns the second gram,
    // so it emits nothing; a prefix compare would make doc 1 its owner
    val a = key("a")
    val b = a.clone()
    b(15) = (b(15) ^ 1).toByte
    val rows = Iterator((a, 1L, 0), (b, 2L, 3), (b, 3L, 4))
    new graft.dedup.SpanOwnerStream(rows).toList shouldBe List((3L, 4))
  }

  test("rewriteDoc: overlapping and unsorted window starts remove their union once") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ts = (0 until 10).map(i => s"t$i")
    // [4,7) ∪ [2,5) ∪ [4,7) = positions 2..6; the repeat counts once
    Dedup.rewriteDoc(ts, Seq(4, 2, 4), 3) shouldBe
      Dedup.Scrubbed(10L, 5L, 500000L, md5hex("t0 t1 t7 t8 t9"))
    // a window ending at the last token
    Dedup.rewriteDoc(ts, Seq(7), 3) shouldBe
      Dedup.Scrubbed(10L, 3L, 700000L, md5hex("t0 t1 t2 t3 t4 t5 t6"))
  }

  test("rewriteDoc: a fully covered doc keeps nothing and hashes the empty string") {
    Dedup.rewriteDoc(Seq("a", "b", "c", "d"), Seq(1, 0), 3) shouldBe
      Dedup.Scrubbed(4L, 4L, 0L, "d41d8cd98f00b204e9800998ecf8427e")
  }
}
