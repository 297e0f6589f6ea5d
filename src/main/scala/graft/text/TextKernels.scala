package graft.text

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one-pass text kernels behind [[TextFunctions]]' tokenizer and
  * counters and the span-dedup window keys. Each kernel is one static
  * helper here; its Catalyst expression's interpreted eval and its
  * generated code both call that helper (the [[graft.sim.CosineSimilarity.of]]
  * precedent), so the two paths cannot drift.
  *
  * Every helper reproduces the built-in formulation it replaced, value
  * for value (TextKernelsSpec pins each against that formula):
  *   - [[tokens]]: `split(s, "\\s+")` with Java's limit −1 rules;
  *   - [[tokenCount]]: `size(split(lower(s), "\\s+"))`;
  *   - [[bpeTokenCount]]: `size(regexp_extract_all(s, BpePattern, 0))`;
  *   - [[nonSpaceChars]]: `length(regexp_replace(s, "\\s", ""))`;
  *   - [[hitCount]]: `size(filter(toks, t -> t IN words))`;
  *   - [[windowDigests]]: `unhex(md5(array_join(slice(ts, i+1, L), " ")))`
  *     for every window start i.
  *
  * Java's `\s` is ASCII `[ \t\n\x0B\f\r]`, and in valid UTF-8 an ASCII
  * byte is always a whole code point, so on valid input the string
  * kernels work on the bytes. Input that is not valid UTF-8 is decoded
  * the way the regex functions decode it (malformed bytes become
  * U+FFFD) and takes the regex path, so even binary garbage keeps the
  * old values. */
object TextKernels {

  private val SplitRegex = UTF8String.fromString("\\s+")
  private val BpeRegex = java.util.regex.Pattern.compile(TextFunctions.BpePattern)
  private val SpaceRegex = java.util.regex.Pattern.compile("\\s")

  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  /** Lowercase tokens of an already lowered and trimmed string: the
    * pieces between runs of ASCII whitespace. As Java's `split` with
    * limit −1, a leading run yields a leading "", a trailing run a
    * trailing "", and "" yields [""]. */
  def tokens(s: UTF8String): ArrayData = {
    if (!s.isValid) return new GenericArrayData(s.split(SplitRegex, -1).asInstanceOf[Array[Any]])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var start = 0
    var i = 0
    while (i < n) {
      if (isSpace(Platform.getByte(base, off + i))) {
        out += copy(base, off, start, i)
        i += 1
        while (i < n && isSpace(Platform.getByte(base, off + i))) i += 1
        start = i
      } else i += 1
    }
    out += copy(base, off, start, n)
    new GenericArrayData(out.toArray)
  }

  private def copy(base: AnyRef, off: Long, from: Int, until: Int): UTF8String = {
    val b = new Array[Byte](until - from)
    Platform.copyMemory(base, off + from, b, Platform.BYTE_ARRAY_OFFSET, b.length)
    UTF8String.fromBytes(b)
  }

  /** Number of [[tokens]] of a trimmed string: 1 + its runs of ASCII
    * whitespace. Lowercasing never creates or removes ASCII whitespace,
    * so no lowered copy is made. */
  def tokenCount(s: UTF8String): Int = {
    if (!s.isValid) return s.toLowerCase.split(SplitRegex, -1).length
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var runs = 0
    var inRun = false
    var i = 0
    while (i < s.numBytes) {
      if (isSpace(Platform.getByte(base, off + i))) {
        if (!inRun) { runs += 1; inRun = true }
      } else inRun = false
      i += 1
    }
    runs + 1
  }

  /** Matches of [[TextFunctions.BpePattern]] in a lowered string: each
    * run of `[a-z]` counts 1, each run of `[0-9]` counts 1, and every
    * other non-whitespace code point counts 1 (a supplementary code
    * point is one match, as in the regex). */
  def bpeTokenCount(s: UTF8String): Int = {
    if (!s.isValid) {
      val m = BpeRegex.matcher(s.toString)
      var k = 0
      while (m.find()) k += 1
      return k
    }
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var k = 0
    var run = 0 // 1 inside a letter run, 2 inside a digit run
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      if (b >= 'a' && b <= 'z') { if (run != 1) k += 1; run = 1 }
      else if (b >= '0' && b <= '9') { if (run != 2) k += 1; run = 2 }
      else {
        run = 0
        // a symbol: any non-space ASCII byte or the lead byte of a
        // multi-byte code point (continuation bytes are 10xxxxxx)
        if (!isSpace(b) && (b & 0xC0) != 0x80) k += 1
      }
      i += 1
    }
    k
  }

  /** Code points that are not ASCII whitespace. */
  def nonSpaceChars(s: UTF8String): Int = {
    if (!s.isValid) {
      val t = SpaceRegex.matcher(s.toString).replaceAll("")
      return t.codePointCount(0, t.length)
    }
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var spaces = 0
    var i = 0
    while (i < s.numBytes) {
      if (isSpace(Platform.getByte(base, off + i))) spaces += 1
      i += 1
    }
    s.numChars - spaces
  }

  /** The set form of a word list, for [[hitCount]]. */
  def wordSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    words.foreach(w => set.add(UTF8String.fromString(w)))
    set
  }

  /** How many elements of `toks` are in `words`; null elements never
    * count. */
  def hitCount(toks: ArrayData, words: java.util.Set[UTF8String]): Int = {
    var k = 0
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i) && words.contains(toks.getUTF8String(i))) k += 1
      i += 1
    }
    k
  }

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The 16-byte md5 of every L-token window of `ts`, in window order:
    * window i digests tokens i until i+L joined by single spaces, null
    * tokens skipped with their separator (as `array_join` skips them).
    * An array shorter than L, or L < 1, has no windows. */
  def windowDigests(ts: ArrayData, L: Int): ArrayData = {
    val n = ts.numElements()
    if (L < 1 || n < L) return new GenericArrayData(new Array[Any](0))
    val d = md5.get()
    val out = new Array[Any](n - L + 1)
    var i = 0
    while (i < out.length) {
      d.reset()
      var first = true
      var j = i
      while (j < i + L) {
        if (!ts.isNullAt(j)) {
          if (!first) d.update(' '.toByte)
          val t = ts.getUTF8String(j)
          t.getBaseObject match {
            case b: Array[Byte] =>
              d.update(b, (t.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, t.numBytes)
            case _ => d.update(t.getBytes)
          }
          first = false
        }
        j += 1
      }
      out(i) = d.digest()
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** A string → value kernel: the generated code is one call of the
  * named [[TextKernels]] helper. */
sealed abstract class StringKernel extends UnaryExpression {
  /** The [[TextKernels]] method the generated code calls. */
  protected def helper: String
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextKernels.$helper($c)")
}

/** [[TextKernels.tokens]]: `array<string>` of a lowered, trimmed string. */
case class Tokens(child: Expression) extends StringKernel {
  protected def helper: String = "tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"
  override def nullSafeEval(input: Any): Any = TextKernels.tokens(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextKernels.tokenCount]] of a trimmed string. */
case class TokenCount(child: Expression) extends StringKernel {
  protected def helper: String = "tokenCount"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_token_count"
  override def nullSafeEval(input: Any): Any = TextKernels.tokenCount(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextKernels.bpeTokenCount]] of a lowered string. */
case class BpeTokenCount(child: Expression) extends StringKernel {
  protected def helper: String = "bpeTokenCount"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bpe_token_count"
  override def nullSafeEval(input: Any): Any =
    TextKernels.bpeTokenCount(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextKernels.nonSpaceChars]]. */
case class NonSpaceChars(child: Expression) extends StringKernel {
  protected def helper: String = "nonSpaceChars"
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_non_space_chars"
  override def nullSafeEval(input: Any): Any =
    TextKernels.nonSpaceChars(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextKernels.hitCount]] of an `array<string>` against a fixed word list. */
case class HitCount(child: Expression, words: Seq[String]) extends UnaryExpression {
  @transient private lazy val set = TextKernels.wordSet(words)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_hit_count expects array<string>, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hit_count"
  override def nullSafeEval(input: Any): Any = TextKernels.hitCount(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hitWords", set, "java.util.Set")
    defineCodeGen(ctx, ev, a => s"graft.text.TextKernels.hitCount($a, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextKernels.windowDigests]]: `array<binary>` of 16-byte window keys
  * over an `array<string>` and a window length (an int column, so a
  * per-row length serves too). */
case class WindowDigests(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_window_digests expects (array<string>, int), got ($l, $r)")
  }
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_window_digests"
  override def nullSafeEval(ts: Any, len: Any): Any =
    TextKernels.windowDigests(ts.asInstanceOf[ArrayData], len.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, l) => s"graft.text.TextKernels.windowDigests($a, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
