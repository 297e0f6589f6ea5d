package graft

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.TextFunctions

/** The native text kernels ([[graft.text.TextKernels]]) against the
  * built-in formulas they replaced. The formulas are kept here as the
  * reference; every kernel must equal its formula row for row, on the
  * generated path (a whole-stage-codegen scan) and on the interpreted
  * path (the analyzed expressions evaluated row by row). */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  // ---- the replaced formulas -------------------------------------------
  private def tokensRef(text: Column): Column = split(lower(trim(text)), "\\s+")
  private def hitCountRef(toks: Column, words: Seq[String]): Column =
    F.size(filter(toks, (t: Column) => t.isInCollection(words)))
  private def langIdRef(toks: Column): Column = {
    val Seq(en, es, de) = TextFunctions.LangMarkers.map { case (_, w) => hitCountRef(toks, w) }
    when(en >= es && en >= de, "en").when(es >= de, "es").otherwise("de")
  }
  private def refCols(text: Column): Seq[Column] = Seq(
    tokensRef(text),
    F.size(tokensRef(text)),
    F.size(regexp_extract_all(lower(text), lit(TextFunctions.BpePattern), lit(0))),
    F.length(regexp_replace(text, "\\s", "")),
    hitCountRef(tokensRef(text), TextFunctions.Stopwords),
    langIdRef(tokensRef(text)))
  private def kernelCols(text: Column): Seq[Column] = Seq(
    TextFunctions.tokens(text),
    TextFunctions.tokenCount(text),
    TextFunctions.bpeTokenCount(text),
    TextFunctions.nonSpaceChars(text),
    TextFunctions.hitCount(TextFunctions.tokens(text), TextFunctions.Stopwords),
    TextFunctions.langId(TextFunctions.tokens(text)))

  // ---- random dirty text ---------------------------------------------------
  private val pieces: Array[String] = Array(
    // the six Java \s characters, repeated so runs form
    " ", " ", "\t", "\n", "\u000B", "\f", "\r", "  ", "\r\n",
    // whitespace Java's \s does not match
    "\u00A0", "\u00A0", "\u2003", "\u3000", "\u0085",
    // five scripts
    "Hello", "WORLD", "data", "Row", "join", "the", "a", "is", "hash",
    "Привет", "мир", "Σίσυφος", "ς", "مرحبا", "漢字", "中文",
    // case-folding edges
    "\u0130", "\u0130STANBUL", "\u00DF", "stra\u00DFe", "\u1E9E", "\u01C4", "\u212A",
    // supplementary code points
    "🙂", "𝔘𝔫𝔦", "𠀀", "👍🏽",
    // letters, digits and punctuation mixed
    "abc123", "4x4", "42", "0", "x-ray", "e.g.", "!!", "?", "(", "\"q\"", "_", "a1b2c3",
    "\u00E9", "e\u0301", "\u00FC", "\u00F1")
  private def randomText(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.length))).mkString
  private val literals: Seq[String] = Seq("", "\nHello World", "a b\n", "x\u00A0y",
    "İSTANBUL Σ straße", "🙂 ok", " ", "\t", "  leading and trailing  ", "\n\n")
  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(20261019)
    literals ++ Seq.fill(1200)(randomText(rnd)) :+ null
  }

  /** A scan Spark cannot fold on the driver, so the projection runs as
    * generated code inside whole-stage codegen. */
  private def scan(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def generated(df: DataFrame): Seq[Seq[Any]] = {
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    } should not be empty
    df.collect().toSeq.map(_.toSeq)
  }

  /** The analyzed projection of `cols` over `schema`, bound and
    * evaluated row by row — no code is generated. Values come back in
    * the Row form `generated` returns. */
  private def interpreted(schema: StructType, cols: Seq[Column], rows: Seq[Row]): Seq[Seq[Any]] = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val p = empty.select(cols: _*).queryExecution.analyzed.asInstanceOf[Project]
    val bound = p.projectList.map(e => BindReferences.bindReference(e, p.child.output))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toScala = bound.map(e => CatalystTypeConverters.createToScalaConverter(e.dataType))
    rows.map { r =>
      val in = toCatalyst(r).asInstanceOf[InternalRow]
      bound.zip(toScala).map { case (e, f) => f(e.eval(in)) }
    }
  }

  /** Rows compared as plain values (arrays as lists, binary as lists). */
  private def norm(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.map(_.map {
    case a: Array[Byte] => a.toList
    case s: scala.collection.Seq[_] => s.toList.map {
      case b: Array[Byte] => b.toList
      case x => x
    }
    case x => x
  })

  private val textSchema = StructType(Seq(StructField("text", StringType)))

  test("tokenizer and counters equal the regex formulas on 1 200 random dirty texts, " +
      "generated and interpreted") {
    val df = scan(texts.map(Row(_)), textSchema)
    df.select(kernelCols(col("text")): _*).schema.map(_.dataType) shouldBe
      df.select(refCols(col("text")): _*).schema.map(_.dataType)
    val want = norm(generated(df.select(refCols(col("text")): _*)))
    val gen = norm(generated(df.select(kernelCols(col("text")): _*)))
    val int = norm(interpreted(textSchema, kernelCols(col("text")), texts.map(Row(_))))
    want.length shouldBe texts.length
    gen.indices.filter(i => gen(i) != want(i)).map(i => (texts(i), gen(i), want(i))) shouldBe empty
    int.indices.filter(i => int(i) != want(i)).map(i => (texts(i), int(i), want(i))) shouldBe empty
    // the corpus really covers the edges: leading and trailing "" tokens,
    // NBSP, supplementary code points
    val toks = want.flatMap(r => Option(r.head).map(_.asInstanceOf[List[String]]))
    toks.count(t => t.length > 1 && t.head == "") should be > 10
    toks.count(t => t.length > 1 && t.last == "") should be > 10
    texts.count(t => t != null && t.contains('\u00A0')) should be > 100
    texts.count(t => t != null && t.codePoints().anyMatch(Character.isSupplementaryCodePoint(_))) should
      be > 100
  }

  test("invalid UTF-8 (a binary cast) takes the regex path: same values as the formulas") {
    val rnd = new scala.util.Random(7)
    val bad: Seq[Array[Byte]] = Seq(
      Array(0xC3, 0x20, 0x41, 0xED, 0xA0, 0x80, 0xFF, 0x0A, 0x62),
      Array(0x80, 0x20, 0x61, 0x20),
      Array(0xC0, 0x80, 0x09, 0xF4, 0x90, 0x80, 0x80, 0x31),
      Array(0x20, 0x0B, 0xE2, 0x82, 0x20, 0x61, 0x62),
      Array(0xF0, 0x9F, 0x99, 0x20, 0x6F, 0x6B)).map(_.map(_.toByte)) ++
      Seq.fill(300) {
        val pool = Array(0x20, 0x09, 0x0A, 0x0D, 0x61, 0x7A, 0x41, 0x35, 0x2E, 0x80, 0xBF, 0xC3,
          0xA9, 0xC2, 0xA0, 0xE2, 0x82, 0xAC, 0xED, 0xA0, 0xF0, 0x9F, 0x99, 0x82, 0xFF, 0xC0)
        Array.fill(rnd.nextInt(16))(pool(rnd.nextInt(pool.length)).toByte)
      }
    bad.count(b => !UTF8String.fromBytes(b).isValid) should be > 200
    val schema = StructType(Seq(StructField("b", BinaryType)))
    val text = col("b").cast("string")
    val df = scan(bad.map(Row(_)), schema)
    val want = norm(generated(df.select(refCols(text): _*)))
    val gen = norm(generated(df.select(kernelCols(text): _*)))
    val int = norm(interpreted(schema, kernelCols(text), bad.map(Row(_))))
    gen.indices.filter(i => gen(i) != want(i)).map(i => (bad(i).toList, gen(i), want(i))) shouldBe empty
    int.indices.filter(i => int(i) != want(i)).map(i => (bad(i).toList, int(i), want(i))) shouldBe empty
  }

  private val tsSchema = StructType(Seq(StructField("ts", ArrayType(StringType)), StructField("L", IntegerType)))

  /** `unhex(md5(...))` of every window, guarded for arrays shorter than
    * L as every caller's `size(ts) >= L` filter guards it. */
  private def windowsRef(ts: Column, len: Column): Column =
    when(F.size(ts) < len, array().cast("array<binary>"))
      .otherwise(transform(sequence(lit(0), F.size(ts) - len),
        i => unhex(md5(array_join(slice(ts, i + 1, len), " ")))))

  test("windowDigests equals unhex(md5(array_join(slice(...)))) with null tokens, n < L, n = L, " +
      "generated and interpreted") {
    val rnd = new scala.util.Random(5)
    val words = Array("a", "b", "the", "σ", "🙂", "", "x y", null)
    val rows: Seq[Seq[Any]] = Seq(
      Seq(Seq("a", "b", "c"), 3), // n = L: one window
      Seq(Seq("a", "b"), 3), // n < L: none
      Seq(Seq.empty[String], 1),
      Seq(Seq(null, null, "a"), 2), // an all-null window digests ""
      Seq(Seq("a", null, "b", "c"), 2),
      Seq(null, 2), Seq(Seq("a"), null)) ++
      Seq.fill(400) {
        Seq(Seq.fill(rnd.nextInt(14))(words(rnd.nextInt(words.length))), 1 + rnd.nextInt(6))
      }
    val df = scan(rows.map(r => Row(r: _*)), tsSchema)
    val want = norm(generated(df.select(windowsRef(col("ts"), col("L")))))
    val kernel = Seq(TextFunctions.windowDigests(col("ts"), col("L")))
    val gen = norm(generated(df.select(kernel: _*)))
    val int = norm(interpreted(tsSchema, kernel, rows.map(r => Row(r: _*))))
    want.flatten.count(_ != null) should be > 300
    gen.indices.filter(i => gen(i) != want(i)).map(i => (rows(i), gen(i), want(i))) shouldBe empty
    int.indices.filter(i => int(i) != want(i)).map(i => (rows(i), int(i), want(i))) shouldBe empty
    want.head.head.asInstanceOf[List[_]].length shouldBe 1
    want(1).head shouldBe Nil
    Option(want(5).head) shouldBe None
    Option(want(6).head) shouldBe None
    want(3).head.asInstanceOf[List[List[Byte]]](0) shouldBe
      java.security.MessageDigest.getInstance("MD5").digest(Array.emptyByteArray).toList
  }

  test("dupSpans and dupSpansMulti on binary keys equal the hex-keyed formulation") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "a quick brown fox jumps over the lazy dog again today",
      3L -> "nothing in common here at all with anything else",
      4L -> "the quick brown fox jumps over").toDF("doc_id", "text")
    val L = 4
    val grams = docs.select(col("doc_id"), tokensRef(col("text")).as("ts"))
      .where(F.size(col("ts")) >= L)
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), F.size(col("ts")) - L),
        i => md5(array_join(slice(col("ts"), i + 1, lit(L)), " ")))))
      .toDF("doc_id", "pos", "gram")
    val dup = grams.groupBy("gram").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .where(col("lo") < col("hi")).select("gram")
    val want = grams.join(dup, Seq("gram"))
      .withColumn("grp", col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + L).cast("long").as("span_len"), count(lit(1)).as("n_windows"))
      .drop("grp").collect().map(_.toSeq).toSet
    want should not be empty
    graft.dedup.Dedup.dupSpans(docs, L).collect().map(_.toSeq).toSet shouldBe want
    graft.dedup.Dedup.dupSpansMulti(docs, Seq(L, 6)).where(col("min_len") === L)
      .drop("min_len").collect().map(_.toSeq).toSet shouldBe want
  }
}
