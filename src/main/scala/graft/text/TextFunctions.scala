package graft.text

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Column-level text-analysis building blocks for the LLM-data-pipeline
  * extension (driver mandate; SURVEY.md §2.11).
  *
  * The per-document hot path — the tokenizer, the token / BPE /
  * character counters, the word-list hit count and the span-dedup
  * window keys — is native Catalyst expressions ([[TextKernels]]): one
  * pass over the string or array inside whole-stage codegen, no regex
  * scan, no interpreted lambda, no intermediate array taken only for
  * its size. Each returns exactly what the built-in formula it replaced
  * returned (TextKernelsSpec pins each against that formula). The rest
  * is built-in functions, so Catalyst can push projections below them.
  *
  * Dirty-text contract (literal values, pinned in TextFunctionsSpec):
  *   - `null`: [[tokenCount]], [[bpeTokenCount]] and [[nonSpaceChars]]
  *     are null; [[langId]] is "de";
  *   - `""`: [[tokens]] is `[""]`, [[tokenCount]] 1;
  *   - `"\nHello World"`: `["", "hello", "world"]`, count 3 (`trim`
  *     strips only spaces, and a leading whitespace run yields "");
  *   - `"a b\n"`: a trailing "", count 3;
  *   - `"x\u00A0y"` (NBSP is not `\s`): one token, BPE count 3;
  *   - `"İSTANBUL Σ straße"`: `["i̇stanbul", "σ", "straße"]`, BPE count 7;
  *   - `"🙂 ok"`: BPE count 2, [[nonSpaceChars]] 3;
  *   - input that is not valid UTF-8: the values of the regex formulas.
  */
object TextFunctions {

  private def native(e: Expression): Column = GraftSqlShim.column(e)
  private def catalyst(c: Column): Expression = GraftSqlShim.expression(c)

  /** Lowercased whitespace tokens: `split(lower(trim(text)), "\\s+")`. */
  def tokens(text: Column): Column = native(Tokens(catalyst(lower(trim(text)))))

  /** `size(tokens(text))`, without building the array. */
  def tokenCount(text: Column): Column = native(TokenCount(catalyst(trim(text))))

  /** BPE-style pretokenization (letter runs | digit runs | single
    * non-space symbol) over lowercased text — the units a byte-pair
    * tokenizer would merge from, and the driver-mandated second token
    * counter next to the whitespace one. The ASCII-class pattern is
    * deliberately within the common Java-regex/RE2 subset so the
    * DuckDB oracle evaluates it identically. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BpePattern), lit(0))

  /** `size(bpeTokens(text))`, without building the array. */
  def bpeTokenCount(text: Column): Column = native(BpeTokenCount(catalyst(lower(text))))

  /** English-ish function words used by the quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** How many tokens fall in `words` (`size(filter(toks, t -> t IN
    * words))`): null for a null array; a null token never counts. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    native(HitCount(catalyst(toks), words))

  /** Character count excluding whitespace:
    * `length(regexp_replace(text, "\\s", ""))`. */
  def nonSpaceChars(text: Column): Column = native(NonSpaceChars(catalyst(text)))

  /** The 16-byte md5 of every `len`-token window of `ts`, in window
    * order (`unhex(md5(array_join(slice(ts, i + 1, len), " ")))` for
    * every start i; none when `ts` is shorter than `len`) — the
    * span-dedup window key. `len` may vary per row. */
  def windowDigests(ts: Column, len: Column): Column =
    native(WindowDigests(catalyst(ts), catalyst(len)))

  /** Fixed-size token blocks (`blockLen` tokens each, last block
    * ragged), as space-joined strings. Assumes ≥1 token (the callers'
    * `size(tokens) >= 1` gate) — on an empty array `sequence(0, -1)`
    * would count DOWN. In-row, codegen-friendly. */
  def tokenBlocks(tk: Column, blockLen: Int): Column =
    transform(
      sequence(lit(0), floor((size(tk) - lit(1)) / lit(blockLen.toDouble)).cast("int")),
      i => concat_ws(" ", slice(tk, i * lit(blockLen) + lit(1), lit(blockLen))))

  /** First occurrence of each element, original order preserved — the
    * intra-document repetition trim (q134). In-row O(n²) scan over the
    * earlier-elements slice; bounded by blocks-per-doc, never shuffles. */
  def firstOccurrences(xs: Column): Column =
    filter(xs, (x, i) => !exists(slice(xs, lit(1), i), y => y === x))

  /** One BM25 term's contribution (Robertson idf, k1 = 1.2, b = 0.75):
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with dl·N kept
    * in exact integer math and a single double division by Σlen. This
    * is THE tree — q63 (direct scan) and [[TextIndex.probe]] (standing
    * index) both call it over identical column types, which is what
    * makes the index's ranking reproduce the scan's bit-for-bit
    * (ln() is 1-ulp engine-stable; equal inputs in the same JVM are
    * exactly equal). */
  def bm25Part(tf: Column, df: Column, dl: Column,
               nDocs: Column, sumLen: Column): Column =
    log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) *
      tf * lit(2.2) /
      (tf + lit(1.2) * (lit(0.25) +
        lit(0.75) * (dl * nDocs) / sumLen.cast(DoubleType)))

  /** Language-ID marker lists: a tiny n-gram/function-word heuristic.
    * Marker sets are disjoint token lists; prediction is argmax of hit
    * counts with a fixed tie-break order (en > es > de). On real corpora
    * the lists would hold per-language function words; the fixture
    * vocabulary is synthetic so these are representative stand-ins.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is"),
    "es" -> Seq("data", "row", "table"),
    "de" -> Seq("join", "merge", "hash"))

  /** Argmax over marker-hit counts, ties resolved in LangMarkers order.
    * A null token array has null counts, so every comparison is null
    * and the chain falls through to "de". */
  def langId(toks: Column): Column = {
    val hits = LangMarkers.map { case (lang, words) => lang -> hitCount(toks, words) }
    val Seq(en, es, de) = hits.map(_._2)
    when(en >= es && en >= de, "en")
      .when(es >= de, "es")
      .otherwise("de")
  }

  /** Adjacent token bigrams as "a b" strings — the unit of the
    * repetition-quality signals (Gopher-style top-2-gram fraction).
    * Guarded for < 2 tokens: Spark's `sequence(1, 0)` counts DOWN
    * ([1, 0]), it does not produce an empty range. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** PII-style scrubbing: apply `(pattern → replacement)` rules in
    * order, each replacing EVERY match (Spark regexp_replace is
    * global, like DuckDB's 'g' flag). Patterns must stay inside the
    * common Java-regex/RE2 subset (character classes, `\b`, bounded
    * repetition) so the oracle evaluates them identically; swap in
    * real PII patterns (emails, phones, SSNs) as rules — the operator
    * is the same codegen'd per-row projection either way. */
  def redact(text: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** Number of matches of `pattern` — the redaction audit count. */
  def matchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03) via
    * the native one-pass [[WinnowFingerprint]] expression — the
    * higher-order-function formulation was O(len·w) interpreted with an
    * allocation per window and dominated the whole query set at sf0.1.
    */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    native(WinnowFingerprint(catalyst(text), k, w))
}
