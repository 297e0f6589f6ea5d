package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => asize}

import graft.text.{Bpe, TextFunctions}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the textbook corpus: hug:10 pug:5 pun:12 bun:4 hugs:5
  private val textbook = Seq(
    "hug" -> 10L, "pug" -> 5L, "pun" -> 12L, "bun" -> 4L, "hugs" -> 5L)

  test("trainFromCounts reproduces the classic merge sequence") {
    // pair counts round 1: (u,g)=20 (p,u)=17 (u,n)=16 (h,u)=15 ...
    // -> ug; then (u,n)=16 -> un; then (h,ug)=15 -> hug
    Bpe.trainFromCounts(textbook, numMerges = 3) shouldBe
      Seq(("u", "g"), ("u", "n"), ("h", "ug"))
  }

  test("training is deterministic under input order and stops when no pair repeats") {
    Bpe.trainFromCounts(textbook.reverse, 3) shouldBe
      Bpe.trainFromCounts(textbook, 3)
    // all-singleton corpus: best pair count 1 -> no merges learned
    Bpe.trainFromCounts(Seq("ab" -> 1L, "cd" -> 1L), 10) shouldBe empty
    // tie on count breaks to the lexicographically smallest pair
    Bpe.trainFromCounts(Seq("zy" -> 2L, "ab" -> 2L), 1) shouldBe Seq(("a", "b"))
  }

  test("fitDistributedTable equals the driver-side trainFromCounts, merge for merge") {
    // textbook corpus as documents: one doc per word occurrence would be
    // 36 rows; weight via repetition inside one text column instead
    val docs = textbook.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .grouped(7).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val table = Bpe.fitDistributedTable(docs, numMerges = 3)
      .orderBy("merge_step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    table shouldBe Bpe.trainFromCounts(textbook, numMerges = 3)
    // early stop mirrors the driver loop: singleton-only corpus learns none
    Bpe.fitDistributedTable(
      Seq((1L, "ab"), (2L, "cd")).toDF("doc_id", "text"), numMerges = 10)
      .count() shouldBe 0L
    // pair_count at merge time matches the classic hand counts
    val full = Bpe.fitDistributedTable(docs, numMerges = 3)
      .orderBy("merge_step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    full.toSeq shouldBe Seq(
      (1L, "u", "g", "ug", 20L), (2L, "u", "n", "un", 16L), (3L, "h", "ug", "hug", 15L))
  }

  test("fitDistributedTable: driver gate (r17) equals the distributed loop on both gate sides") {
    val docs = textbook.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .grouped(7).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("merge_step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    // the tiny census trips the gate: the driver twin runs
    val gated = rows(Bpe.fitDistributedTable(docs, numMerges = 3))
    gated shouldBe rows(Bpe.fitDistributedLoop(docs, numMerges = 3))
    gated.length shouldBe 3
  }

  test("supplementary-plane symbols: code-point split and code-point tie-break") {
    // ADVICE r13 #3: the driver loop must order ties the way the
    // distributed fold's orderBy(l, r) does — UTF8String binary order,
    // i.e. CODE-POINT order. UTF-16 code-unit order would put the
    // emoji (U+1F600, lead surrogate 0xD83D) before U+FFFD and pick
    // the other merge.
    val emoji = "😀" // 😀 U+1F600
    Bpe.cpCompare(emoji, "�") should be > 0 // code points: 0x1F600 > 0xFFFD
    emoji.compareTo("�") should be < 0 // what String order wrongly says
    // two pair types tied at count 2 → merge must be (x, U+FFFD)
    Bpe.trainFromCounts(Seq("x" + emoji -> 2L, "x�" -> 2L), 1) shouldBe
      Seq(("x", "�"))
    // symbol split is by code point: an emoji is ONE mergeable symbol,
    // never two lone surrogate halves (which are not even valid
    // strings on their own)
    Bpe.cpSplit("a" + emoji + "b").toSeq shouldBe Seq("a", emoji, "b")
    Bpe.trainFromCounts(Seq(emoji + emoji -> 3L), 1) shouldBe Seq((emoji, emoji))
    // and the encoder merges it whole
    Bpe.applyMerges(emoji + emoji, Map((emoji, emoji) -> 0)).toSeq shouldBe
      Seq(emoji + emoji)
  }

  test("applyMerges encodes known words under the textbook merges") {
    val ranks = Seq(("u", "g"), ("u", "n"), ("h", "ug")).zipWithIndex.toMap
    Bpe.applyMerges("hugs", ranks).toSeq shouldBe Seq("hug", "s")
    Bpe.applyMerges("bug", ranks).toSeq shouldBe Seq("b", "ug")
    Bpe.applyMerges("mun", ranks).toSeq shouldBe Seq("m", "un")
    Bpe.applyMerges("x", ranks).toSeq shouldBe Seq("x")
    // rank order, not left-to-right: in "hug" the (u,g) merge (rank 0)
    // must fire before any (h,u) attempt
    Bpe.applyMerges("hug", ranks).toSeq shouldBe Seq("hug")
  }

  test("fit counts occurrences distributed, then learns the same merges") {
    val docs = (textbook.flatMap { case (w, n) => Seq.fill(n.toInt)(w) })
      .grouped(7).map(_.mkString(" ")).toSeq
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    Bpe.fit(docs, numMerges = 3) shouldBe Seq(("u", "g"), ("u", "n"), ("h", "ug"))
  }

  test("ranksFromTable: the cluster-trained table serves the exact driver-fit encoding") {
    // VERDICT r13 #8: train→encode must be cluster-only end to end —
    // the ranks handed to the native encoder come from the TRAINED
    // TABLE (fitDistributedTable), and must reproduce the driver fit's
    // encoding token for token.
    val docs = textbook.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .grouped(7).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val served = Bpe.ranksFromTable(Bpe.fitDistributedTable(docs, numMerges = 3))
    served shouldBe Bpe.fit(docs, numMerges = 3)
    val enc = docs.select(col("doc_id"),
        Bpe.encode(col("text"), served).as("a"),
        Bpe.encode(col("text"), Bpe.fit(docs, numMerges = 3)).as("b"))
      .where(!(col("a") === col("b")))
    enc.count() shouldBe 0L
  }

  test("encode column: lossless per-pretoken concatenation, mixed content") {
    val merges = Seq(("u", "g"), ("u", "n"), ("h", "ug"))
    val df = Seq(
      (1L, "hugs pugs!"), (2L, "Bug 42 bug"), (3L, ""), (4L, "pun-hug"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Bpe.encode(col("text"), merges).as("toks"),
        TextFunctions.bpeTokens(col("text")).as("pre"))
      .withColumn("lossless",
        array_join(col("toks"), "") === array_join(col("pre"), ""))
      .orderBy("doc_id").collect()
    out.foreach(r => withClue(s"doc ${r.getLong(0)}") {
      r.getBoolean(3) shouldBe true
    })
    out(0).getSeq[String](1) shouldBe Seq("hug", "s", "p", "ug", "s", "!")
    out(1).getSeq[String](1) shouldBe Seq("b", "ug", "4", "2", "b", "ug") // lowercased
    out(2).getSeq[String](1) shouldBe empty
    out(3).getSeq[String](1) shouldBe Seq("p", "un", "-", "hug")
  }

  test("monster pretokens encode in bounded pieces, still lossless") {
    val merges = Seq(("a", "a"), ("aa", "aa"))
    val monster = "a" * 100000 // one 100k-char pretoken: O(len^2) unguarded
    val df = Seq((1L, s"hi $monster bye")).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = df.select(Bpe.encode(col("text"), merges).as("toks"),
        TextFunctions.bpeTokens(col("text")).as("pre"))
      .select(array_join(col("toks"), "").as("j"),
        array_join(col("pre"), "").as("p"))
      .head()
    (System.nanoTime() - t0) / 1e9 should be < 30.0 // seconds, generous CI margin
    out.getString(0) shouldBe out.getString(1) // lossless across piece splits
    // fit ignores garbage word types beyond the length cap
    Bpe.fit(df, numMerges = 5) shouldBe empty // "hi"/"bye" singletons, monster filtered
  }

  test("token count shrinks toward pretokens as merges grow (monotone utility)") {
    val docs = Tables.documents(spark, sf0001).limit(200)
    val m50 = Bpe.fit(docs, numMerges = 50)
    val m200 = Bpe.fit(docs, numMerges = 200)
    m200.take(50) shouldBe m50 // merge list is prefix-stable
    def total(merges: Seq[(String, String)]): Long =
      docs.select(sum(asize(Bpe.encode(col("text"), merges))))
        .head().getLong(0)
    val (t50, t200) = (total(m50), total(m200))
    val pre = docs.select(sum(asize(TextFunctions.bpeTokens(col("text")))))
      .head().getLong(0)
    t200 should be <= t50
    t200 should be >= pre
  }
}
