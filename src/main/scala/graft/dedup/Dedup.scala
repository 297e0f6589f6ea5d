package graft.dedup

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.text.TextFunctions

/** Deduplication operators for the LLM-data-pipeline extension
  * (driver mandate; SURVEY.md §2.11): exact, MinHash+LSH, SimHash.
  *
  * Scale posture: every stage is a shuffle on a well-distributed key
  * (text hash, (band, band_hash), doc_id) with map-side partial
  * aggregation; nothing is collected to the driver. The LSH
  * candidate-pair self-join is guarded by a bucket-size cap so a
  * degenerate bucket (e.g. billions of boilerplate documents sharing a
  * band) cannot produce a quadratic blow-up — the standard mitigation at
  * 100 TB, where such buckets are dropped (or routed to a sampling path)
  * rather than joined.
  */
object Dedup {

  /** Exact dedup groups: hash-groupBy on content. Returns one row per
    * distinct text with the survivor id (min doc_id) and multiplicity.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: k permutations approximated by k INDEPENDENT
    * hash lanes — permutation i is the 28-bit lane i%4 of md5 of
    * "(i/4):tok" (graft.text.Hashing.h28Lane), so k permutations cost
    * k/4 md5 digests and, unlike xxhash64, the whole pipeline is
    * exactly reproducible in the DuckDB correctness oracle.
    * Independence matters: a double-hashing family (h1 + i·h2) was
    * measured to CORRELATE the permutations — the same
    * small-h1/small-h2 tokens win most positions, biasing the
    * position-agreement estimate up and inflating candidate pairs
    * 2.3×. Distinct bit ranges of one strong digest carry no such
    * correlation (measured at sf0.1: candidate volume −7% — noise-level
    * — and the est distribution unchanged vs 32 separate md5-60s).
    * signature[i] = min over distinct tokens of lane_i.
    *
    * Two value-identical formulations, pinned to each other by
    * DedupSpec. The NATIVE per-row expression is the default since the
    * lane rebase: one digest loop per document with no hex
    * rendering measures 0.6 s vs the aggregate's 2.1 s at sf0.1 (the
    * aggregate pays 32 interpreted-ish conv(substring(md5hex)) lane
    * extractions per token row — builtins, but string-shaped; in
    * round 1's all-md5-60 family the two were within noise, which is
    * why the aggregate was the default then). The deliberate
    * repartition of the finished signatures keeps an exchange in the
    * plan so AQE still sees exact sizes for the downstream attach
    * joins — without it the no-shuffle plan measured ~15% slower end
    * to end (round 1's HOF experiment, re-confirmed this round).
    */
  def minhashSignatures(docs: DataFrame, k: Int = 32): DataFrame =
    minhashSignaturesNative(docs, k)

  /** Per-row formulation: the native one-pass [[MinHashSignature]]
    * expression (distinct tokens, k/4 seeded digests × 4 lanes, k
    * running mins in one eval per document), then one deliberate
    * repartition of the finished k·8B signature rows (see above). */
  def minhashSignaturesNative(docs: DataFrame, k: Int = 32): DataFrame = {
    // Narrow-input guard (r16): on a single-split fixture scan the
    // digest loop ran on ONE core (measured 0.76 s of the kernel);
    // redistributing FIRST moves the deliberate doc_id exchange in
    // front of the eval so the signatures compute core-wide — same
    // exchange count, same downstream partitioning. On an
    // already-wide scan (the 100 TB regime, where shuffling text
    // instead of 256-byte signatures would be a regression) the guard
    // is the identity and the exchange stays AFTER the projection.
    // Null filter on the INPUT, not the signature (r16): `sig` is null
    // exactly when `text` is null — tokens() is split(lower(trim(..)))
    // which yields at least [""] for any non-null text, and
    // MinHashSignature hashes that one empty token (DedupSpec pins the
    // equivalence). Filtering `sig.isNotNull` instead let Catalyst
    // substitute the alias and push `isnotnull(graft_minhash(...))`
    // below the spread exchange into the single-split scan stage — the
    // whole digest loop ran TWICE per doc, once on ONE core, defeating
    // the spread. `text IS NOT NULL` pushes to the parquet scan for
    // free.
    val alive = docs.where(col("text").isNotNull)
    val spread = graft.ops.RelationalOps.spreadNarrowInput(alive, Seq(col("doc_id")))
    val sigs = spread.select(col("doc_id"),
      org.apache.spark.sql.GraftSqlShim.column(MinHashSignature(
        org.apache.spark.sql.GraftSqlShim.expression(
          TextFunctions.tokens(col("text"))), k)).as("sig"))
    if (spread eq alive) sigs.repartition(col("doc_id")) else sigs
  }

  /** The distributed-aggregation formulation of [[minhashSignatures]]:
    * one explode + one hash-aggregate of k `min` columns, map-side
    * combined. Value-identical to the native default (DedupSpec pins
    * them) and shaped exactly like the DuckDB oracle CTE — kept as the
    * cross-check twin; the native path is faster (see above). */
  def minhashSignaturesViaAggregate(docs: DataFrame, k: Int = 32): DataFrame = {
    require(k % 4 == 0, s"k must be a multiple of 4 (4 lanes per md5 digest), got $k")
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(TextFunctions.tokens(col("text")))).as("tok"))
    // one explicit md5 column per seed, then 4 conv lanes each — the
    // digest is computed once per (token, seed) by construction, not
    // by relying on codegen subexpression elimination across the k
    // aggregate input expressions
    val digests = toks.select(col("doc_id") +:
      (0 until k / 4).map(s =>
        md5(concat(lit(s"$s:"), col("tok")).cast("binary")).as(s"d$s")): _*)
    val mins = (0 until k).map(i =>
      min(graft.text.Hashing.h28Lane(col(s"d${i / 4}"), i % 4)).as(s"h$i"))
    digests.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding over minhash signatures → candidate near-dup pairs with
    * estimated Jaccard (fraction of equal signature positions).
    *
    * @param sigs       (doc_id, sig) — every non-null `sig` is an array
    *                   of `bands * rowsPerBand` NON-NULL elements (what
    *                   [[minhashSignatures]] emits; a null element fails
    *                   the decode). A row whose `sig` is itself null
    *                   carries nothing to verify and is skipped.
    * @param bands      number of bands (bands * rowsPerBand = k)
    * @param rowsPerBand signature rows hashed per band
    * @param minEst     keep pairs with estimated Jaccard ≥ this
    * @param bucketCap  buckets larger than this skip the quadratic
    *                   self-join and emit star pairs to the bucket-min
    *                   anchor instead (skew guard, O(bucket) not O(bucket²))
    */
  def minhashCandidatePairs(sigs: DataFrame, bands: Int = 8, rowsPerBand: Int = 4,
                            minEst: Double = 0.5, bucketCap: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    // ONE-exchange kernel (r17). Banding carries the signature
    // ALONGSIDE (band, bh, doc_id) — bands × 256 B per doc through a
    // single hash exchange on (band, bh) — and an in-partition sort
    // lays every bucket out consecutively with its MIN doc_id first.
    // One streaming pass ([[BucketPairStream]]) then does EVERYTHING
    // the r16 two-pass formulation did:
    //   - under-cap buckets: a pairwise loop over the ≤ cap
    //     buffered members, emitting only id-ordered pairs whose
    //     agreement reaches minEst (same integer count, same divide);
    //   - over-cap buckets (the skew guard): the moment member cap+1
    //     streams in, the bucket switches to STAR pairs against the
    //     anchor (= first member = min doc_id, by the sort), with the
    //     agreement computed INLINE from the two in-hand signatures —
    //     O(bucket) rows, O(cap) memory, no attach joins. An over-cap
    //     bucket is exactly the most-duplicated content in the corpus
    //     (boilerplate families); star pairs keep it connected for the
    //     downstream union-find instead of silently un-deduping it.
    // vs r16: the banded frame shuffled TWICE on (band, bh) (size
    // census + collect_list) and over-cap members rode two more
    // doc-keyed attach joins against a persisted signature table; all
    // of that is now the one sorted exchange, and the signature table
    // no longer needs a persist (single consumer). Band hash = md5-60
    // of "band:sig[a],sig[b],..." — canonical in both engines.
    // DedupSpec pins the operator against the r15 join formulation on
    // a mixed corpus (under-cap, over-cap, singletons).
    import sigs.sparkSession.implicits._
    val sorted = bandedWideOf(sigs, bands, rowsPerBand)
      .select(col("band"), col("bh"), col("doc_id"), col("sig"))
      .repartition(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"), col("doc_id"))
      .as[(Int, Long, Long, Array[Long])]
    val pairs = sorted
      .mapPartitions(it => new BucketPairStream(it, k, minEst, bucketCap))
      .toDF("doc_a", "doc_b", "est_jaccard")
    // A pair that survives via several bands (or as both bucket and
    // star pair) carries the IDENTICAL est, so the final key-dedup is
    // order-free. Survivors are a tiny fraction of the raw candidate
    // volume at every threshold, so deduping after verification is
    // strictly cheaper than deduping candidates first.
    pairs.dropDuplicates("doc_a", "doc_b")
  }

  /** Exact substring (word n-gram) duplication stats — the "train-set
    * memorization" signal of exact-substring dedup: an n-gram is
    * DUPLICATED if it occurs in ≥ 2 distinct documents; each document
    * reports how many of its n-gram positions carry a duplicated gram.
    * Grams travel as md5-60 HASHES (8 bytes), never as joined text —
    * at 100 TB the explode ships |tokens| hashes, the gram aggregate
    * map-side combines on a well-distributed key, and the stats join
    * is linear. Returns (doc_id, n_grams, n_dup_positions). */
  def duplicatedNgramStats(docs: DataFrame, n: Int = 13): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val g = ngramHashes(docs, n)
      // feeds the duplicated-gram aggregate AND the per-doc stats join
      .persistT
    val dup = g.groupBy("gh")
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .where(col("lo") < col("hi")).select("gh")
    val perDoc = g.join(dup, Seq("gh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_positions"))
    docs.select(col("doc_id"),
        greatest(size(tk) - lit(n - 1), lit(0)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"))
  }

  /** Word n-gram md5-60 hashes, one row per gram position:
    * (doc_id, gh). The shared front half of exact-substring dedup
    * stats and train/test decontamination — grams travel as 8-byte
    * hashes, never as joined text, so the explode ships |tokens| longs
    * per document and every downstream aggregate combines map-side.
    *
    * The token array is materialized BEFORE the per-position lambda:
    * expressions inside a higher-order function get no common-
    * subexpression elimination, so referencing tokens(text) there
    * would re-split the document once per gram position (measured
    * ~6× slower at sf0.1). */
  def ngramHashes(docs: DataFrame, n: Int = 13): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    // narrow-input guard (r16): the per-position md5 loop is the
    // expensive projection — on a single-split fixture scan it ran on
    // one core; identity on wide inputs (see spreadNarrowInput)
    val toks = graft.ops.RelationalOps.spreadNarrowInput(
      docs.where(size(tk) >= n).select(col("doc_id"), tk.as("tk")),
      Seq(col("doc_id")))
    val gramArr = transform(sequence(lit(1), size(col("tk")) - lit(n - 1)),
      i => graft.text.Hashing.h60(array_join(slice(col("tk"), i, lit(n)), " ")))
    toks.select(col("doc_id"), explode(gramArr).as("gh"))
  }

  /** Asymmetric CONTAINMENT pairs — the near-dup relation symmetric
    * Jaccard misses: doc A quoted/wrapped inside a larger doc B scores
    * |grams(A) ∩ grams(B)| / |grams(A)| ≈ 1 even when B is 100× longer
    * (so Jaccard ≈ 0). The curation use is "drop the fragment, keep
    * the superset document".
    *
    * Scale shape: per-doc gram SETS travel as md5-60 hashes; the pair
    * generator is a self-equi-join on the gram hash — O(Σ df²) pairs,
    * GATED by `dfCap`: a gram shared by more than `dfCap` docs is
    * boilerplate, generates df² of exactly the pairs containment
    * should NOT be built on, and is dropped from the index (same cap
    * discipline as the LSH `bucketCap`; the drop only LOWERS measured
    * containment of boilerplate wrappers, never inflates a score).
    * Pairs are counted map-side-combinably on (doc_a, doc_b); sizes
    * join back per doc. Returns ORDERED pairs (doc_a contained in
    * doc_b) with n_a ≥ `minGrams` and containment ≥ `minContain`.
    */
  def containmentPairs(docs: DataFrame, n: Int = 5, minContain: Double = 0.8,
                       minGrams: Int = 10, dfCap: Int = 1000): DataFrame = {
    import docs.sparkSession.implicits._
    val g = ngramHashes(docs, n).distinct().persistT // per-doc gram SET
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n_a"))
    // ONE sorted exchange on the gram hash replaces the df census +
    // cap anti-join + hash self-join chain (r17, the minhash-kernel
    // streaming discipline): each under-cap gram bucket arrives
    // consecutively and emits its ordered pairs straight from an
    // in-memory id buffer (≤ dfCap+1 ids); an over-cap gram is
    // boilerplate and is dropped whole — exactly the old
    // `df <= dfCap` gate, bucket by bucket, without materializing the
    // census or re-shuffling the index through the filter join.
    val cap = dfCap
    val common = g.select(col("gh"), col("doc_id"))
      .repartition(col("gh"))
      .sortWithinPartitions(col("gh"), col("doc_id"))
      .as[(Long, Long)]
      .mapPartitions(it => new BucketAllPairsStream(it, cap))
      .toDF("doc_a", "doc_b")
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_a")), Seq("doc_a"))
      .where(col("n_a") >= minGrams)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_common"),
        (col("n_common").cast("double") / col("n_a").cast("double"))
          .as("containment"))
      .where(col("containment") >= minContain)
  }

  /** Content-defined chunking (FastCDC's idea at token granularity):
    * a chunk boundary falls AFTER token i whenever md5-60(token_i) ≡ 0
    * (mod `modulus`) — the cut points are a function of the CONTENT,
    * not the position, so inserting or deleting a token only redraws
    * the one chunk it touches while every chunk after the edit
    * re-aligns. Fixed-width chunking ([[chunkDedupRemove]]) loses all
    * alignment downstream of an edit; this is the standard fix from
    * dedup storage, applied to corpus near-dup diagnosis.
    *
    * Returns (doc_id, chs: array<chunk md5-60 hash>) — one row per
    * doc, everything computed INSIDE the row (no shuffle; the chunk
    * assignment is array-world HOFs over the materialized token
    * array). Expected chunk length = `modulus` tokens. Per-doc cost is
    * O(tokens · boundaries) lambda steps — fine for documents, not for
    * book-length rows (split those upstream).
    */
  def cdcChunks(docs: DataFrame, modulus: Int = 16): DataFrame = {
    import graft.text.Hashing.h60
    def st(cur: Column, done: Column) = struct(cur.as("cur"), done.as("done"))
    // ONE left fold over the token array: accumulate the open run,
    // close it (hash the joined run) whenever the token is a cut point.
    // A boundary token ends the chunk it belongs to; a non-empty
    // trailing run becomes the final chunk in the finish lambda. The
    // first formulation grouped positions by boundary-count — correct
    // but O(tokens²·boundaries) interpreted lambda steps per row
    // (16.4 s at sf0.1); the fold is O(tokens) and runs in 0.8 s.
    val folded = aggregate(
      col("tk"),
      st(array().cast("array<string>"), array().cast("array<bigint>")),
      (acc, t) => {
        val closed = concat(acc.getField("cur"), array(t))
        when(h60(t) % modulus === 0,
          st(array().cast("array<string>"),
            concat(acc.getField("done"), array(h60(array_join(closed, " "))))))
          .otherwise(st(closed, acc.getField("done")))
      },
      acc => when(size(acc.getField("cur")) > 0,
        concat(acc.getField("done"),
          array(h60(array_join(acc.getField("cur"), " ")))))
        .otherwise(acc.getField("done")))
    graft.ops.RelationalOps.spreadNarrowInput(
        docs
          .where(size(TextFunctions.tokens(col("text"))) >= 1)
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk")),
        Seq(col("doc_id"))) // r16 narrow-input guard — see spanScrub
      .select(col("doc_id"), folded.as("chs"))
  }

  /** Exact-substring REMOVAL — the surgery step on top of
    * [[duplicatedNgramStats]]' diagnosis: split each document into
    * non-overlapping `w`-token CHUNKS, drop every chunk whose content
    * occurs in ≥ 2 distinct documents, and reassemble the surviving
    * text (the Lee et al. '22 exact-substring dedup shape, with
    * disjoint chunks as the removable unit so surgery sites never
    * overlap).
    *
    * Scale shape: chunk content travels as md5-60 HASHES — the explode
    * ships one (doc_id, pos, 8-byte hash) row per chunk, the
    * duplicated-chunk aggregate map-side combines on the hash, and
    * only the (doc_id, dup positions) list — a few ints per affected
    * doc — joins back. The text itself never crosses a shuffle: the
    * reassembly recomputes chunk strings in the narrow stage from the
    * join result. Returns (doc_id, n_chunks, n_dup_chunks, kept_text)
    * where kept_text is the space-joined surviving tokens ('' when
    * every chunk was duplicated). */
  def chunkDedupRemove(docs: DataFrame, w: Int = 20): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val nChunks = ceil(size(col("tk")) / lit(w.toDouble)).cast("int")
    val chunkStr = (i: Column) => array_join(slice(col("tk"), i * w + 1, lit(w)), " ")
    // token array materialized BEFORE the per-chunk lambda (no CSE
    // inside higher-order functions — the ngramHashes lesson)
    val withChunks = graft.ops.RelationalOps.spreadNarrowInput(
        docs.select(col("doc_id"), tk.as("tk")).where(size(col("tk")) >= 1),
        Seq(col("doc_id"))) // r16 narrow-input guard — see spanScrub
      .select(col("doc_id"), col("tk"),
        transform(sequence(lit(0), nChunks - 1),
          i => graft.text.Hashing.h60(chunkStr(i))).as("ch"))
      // feeds the dup aggregate AND the reassembly join (unpersist
      // falls to the ContextCleaner; the plan is returned lazily)
      .persistT
    val exploded = withChunks.select(col("doc_id"), posexplode(col("ch")).as(Seq("pos", "gh")))
    val dup = exploded.groupBy("gh")
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .where(col("lo") < col("hi")).select("gh")
    val dupPos = exploded.join(dup, Seq("gh"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("dup_pos"))
    val keptIdx = filter(sequence(lit(0), size(col("ch")) - 1),
      i => not(array_contains(coalesce(col("dup_pos"), typedLit(Seq.empty[Int])), i)))
    withChunks.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ch")).as("n_chunks"),
        coalesce(size(col("dup_pos")), lit(0)).as("n_dup_chunks"),
        array_join(transform(keptIdx, i => chunkStr(i)), " ").as("kept_text"))
  }

  /** Train/test DECONTAMINATION — the dedup variant every LLM data
    * pipeline runs before training: flag corpus documents that share
    * any verbatim word `n`-gram with a benchmark/eval set, so
    * memorized eval answers can be dropped. Reports, per corpus doc,
    * its gram count and how many of its gram positions collide with
    * the benchmark gram set (`n_bench_hits`); `contaminated` is the
    * any-overlap flag a cleaning pass filters on.
    *
    * Scale shape: the benchmark side (eval suites — thousands of docs,
    * not billions) reduces to a DISTINCT set of 8-byte gram hashes and
    * is explicitly broadcast, so the corpus side — the 100 TB side —
    * is a NARROW explode + broadcast-semi-join + one map-side-combined
    * aggregate on doc_id; the corpus never shuffles by gram. */
  def contaminationStats(corpus: DataFrame, bench: DataFrame, n: Int = 13): DataFrame = {
    val benchGrams = ngramHashes(bench, n).select("gh").distinct()
    val hits = ngramHashes(corpus, n)
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_bench_hits"))
    val tk = TextFunctions.tokens(col("text"))
    corpus.select(col("doc_id"),
        greatest(size(tk) - lit(n - 1), lit(0)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        (coalesce(col("n_bench_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[contaminationStats]] for the regime where the benchmark gram set
    * is too large to broadcast as an exact join hashmap (a full eval-
    * harness union can reach billions of grams — at 8 bytes each that
    * is past `spark.sql.autoBroadcastJoinThreshold` by orders of
    * magnitude, and the exact path would shuffle the CORPUS gram
    * explosion by `gh`): a bloom filter over the benchmark grams
    * (~9.6 bits/gram at the default fpp=1%) pre-filters the corpus
    * side inside whole-stage codegen, so only true hits plus the ~fpp
    * sliver enter the shuffle semi-join that makes the result EXACT.
    * The corpus still shuffles only its contaminated fraction, never
    * the full gram explosion. Output is identical to
    * [[contaminationStats]] — the bloom is semantics-free.
    *
    * Costs one extra count over the (small-side) bench grams to size
    * the filter; pass `expectedGrams` to skip it when known. */
  def contaminationStatsBloom(corpus: DataFrame, bench: DataFrame, n: Int = 13,
                              fpp: Double = 0.01,
                              expectedGrams: Long = -1L): DataFrame = {
    val benchGrams = ngramHashes(bench, n).select("gh").distinct()
    // two eager passes (count + fit) share one computation via the
    // persist, released before the lazy verify join (which plans its
    // own scan) — no cache outlives the call
    benchGrams.persistT
    val sized = if (expectedGrams > 0) expectedGrams else benchGrams.count()
    val bloom = try graft.functions.Bloom.fit(benchGrams, "gh", sized, fpp)
                finally benchGrams.unpersist()
    val hits = ngramHashes(corpus, n)
      .where(graft.functions.Bloom.mightContain(bloom, col("gh")))
      .join(benchGrams, Seq("gh"), "left_semi") // exact verify: shuffle of survivors only
      .groupBy("doc_id").agg(count(lit(1)).as("n_bench_hits"))
    val tk = TextFunctions.tokens(col("text"))
    corpus.select(col("doc_id"),
        greatest(size(tk) - lit(n - 1), lit(0)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
        (coalesce(col("n_bench_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Estimated Jaccard of a candidate pair = fraction of agreeing
    * signature positions, over attached `sig_a`/`sig_b` columns.
    * The native fused-loop [[SigAgreement]] expression (r16): the
    * previous unrolled element_at/when tree — itself a round-1 upgrade
    * over interpreted zip_with+aggregate — was SUBSTITUTED by Catalyst
    * through the projection into the verification join's non-equi
    * condition, so its ~100 nodes evaluated twice per raw candidate
    * pair (~5M per kernel run at sf0.1). One codegen'd loop per eval
    * instead; value-identical by construction (exact small-int count,
    * same double divide — DedupSpec pins it against the tree). */
  private[graft] def sigAgreement(k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(SigAgreement(
      org.apache.spark.sql.GraftSqlShim.expression(col("sig_a")),
      org.apache.spark.sql.GraftSqlShim.expression(col("sig_b")), k))

  /** Per-band hashes of the `sig` column: band b hashes "b:" followed
    * by its `rowsPerBand` signature values joined by commas. */
  private def bandHashes(bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => graft.text.Hashing.h60(concat_ws(":", b.cast("string"),
        array_join(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>"), ","))))

  /** Banding projection shared by the self-join and between-table
    * candidate generators: one (doc_id, band, bh) row per band. */
  private[graft] def bandedOf(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(bandHashes(bands, rowsPerBand)).as(Seq("band", "bh")))

  /** [[bandedOf]] carrying the signature column through the explode —
    * the in-bucket verification's input (r16). Column pruning keeps
    * consumers that only read (band, bh, doc_id) as narrow as the
    * plain projection. */
  private[graft] def bandedWideOf(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(bandHashes(bands, rowsPerBand)).as(Seq("band", "bh")))

  /** Candidate pairs BETWEEN two signature tables — the probe shape of
    * incremental dedup: `sigsA` is the arriving batch, `sigsB` the
    * standing corpus index. Buckets are capped on the INDEX side (a
    * boilerplate-heavy corpus bucket would pair with every batch doc);
    * over-cap index buckets probe via their min-id anchor only.
    * Returns (doc_a ∈ A, doc_b ∈ B, est_jaccard ≥ minEst). */
  def minhashCandidatePairsBetween(sigsA: DataFrame, sigsB: DataFrame,
                                   bands: Int = 8, rowsPerBand: Int = 4,
                                   minEst: Double = 0.5, bucketCap: Int = 1000,
                                   persistInputs: Boolean = true): DataFrame = {
    val k = bands * rowsPerBand
    // each side feeds two plan branches (banding + signature attach),
    // so by default both are persisted. Pass persistInputs=false when
    // the caller already caches the parent signature table (the q57
    // shape: one persisted table filtered into batch/corpus halves) —
    // re-persisting cheap filters of a cached parent buys nothing and
    // stacks extra materialization barriers (r3's q57 bench variance).
    // Persisted frames are part of the lazily-returned plan, so they
    // cannot be unpersisted here; a long-lived session relies on the
    // ContextCleaner to drop them when the plan is garbage-collected
    // (same policy as minhashCandidatePairs above).
    // ONE-exchange probe kernel (r17, the minhashCandidatePairs
    // streaming discipline): both sides band WITH their signatures,
    // union tagged by side (0 = index/corpus, 1 = batch), ride one
    // hash exchange on (band, bh) and an in-partition sort that lays
    // each bucket out corpus-first (min doc_id leading = the star
    // anchor). [[ProbePairStream]] then verifies INLINE: under-cap
    // buckets pair every batch member against the ≤ cap buffered
    // corpus members, over-cap buckets against the anchor only (the
    // skew guard — the whole bucket is near-identical content, the
    // anchor stands for it through the est filter). vs r16: the index
    // census, the cap semi-join, the candidate join, the pre-verify
    // distinct and BOTH signature attach joins are gone; est is the
    // identical agreement count / k (DedupSpec pins the operator).
    // A pair colliding in several bands carries the identical est, so
    // the final key-dedup replaces the old dedup-before-verify.
    import sigsA.sparkSession.implicits._
    val sa = if (persistInputs) sigsA.persistT else sigsA
    val sb = if (persistInputs) sigsB.persistT else sigsB
    val tagged = bandedWideOf(sb, bands, rowsPerBand)
      .select(col("band"), col("bh"), lit(0).as("side"), col("doc_id"), col("sig"))
      .unionByName(bandedWideOf(sa, bands, rowsPerBand)
        .select(col("band"), col("bh"), lit(1).as("side"), col("doc_id"), col("sig")))
    val cap = bucketCap
    val me = minEst
    tagged
      .repartition(col("band"), col("bh"))
      .sortWithinPartitions(col("band"), col("bh"), col("side"), col("doc_id"))
      .as[(Int, Long, Int, Long, Array[Long])]
      .mapPartitions(it => new ProbePairStream(it, k, me, cap))
      .toDF("doc_a", "doc_b", "est_jaccard")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup dedup — the production pipeline shape: an
    * arriving batch is deduplicated (1) against the standing corpus by
    * probing its signature index, then (2) within itself. Only the
    * batch is hashed per run; at 100 TB the corpus signatures are a
    * materialized table (bucketed by (band, bh)) maintained
    * incrementally, not recomputed — pass them in as `corpusSigs`.
    * Returns the surviving batch documents. */
  def dedupIncrementalSigs(batch: DataFrame, batchSigs: DataFrame,
                           corpusSigs: DataFrame,
                           bands: Int = 8, rowsPerBand: Int = 4,
                           minEst: Double = 0.5, bucketCap: Int = 1000,
                           persistInputs: Boolean = true): DataFrame = {
    val vsCorpus = minhashCandidatePairsBetween(
      batchSigs, corpusSigs, bands, rowsPerBand, minEst, bucketCap, persistInputs)
    // dupIds feeds BOTH anti-joins below — persist, or the whole corpus
    // probe re-executes per consumer (measured 7.4s → 5.8s at sf0.1).
    // Its runtime size (≤ |batch| ids) lets AQE broadcast the anti
    // joins; unpersist falls to the ContextCleaner (lazy plan).
    val dupIds = vsCorpus.select(col("doc_a").as("doc_id")).distinct().persistT
    // Materialize EAGERLY (VERDICT r13 #1 hardening): both anti joins
    // must plan against a fully-known InMemoryRelation size, not a race
    // between AQE's estimate and the fill state of a cache the first
    // consumer happens to be mid-way through populating — the
    // deterministic order costs one count over the (small) id set.
    dupIds.count()
    val survivors = batch.join(dupIds, Seq("doc_id"), "left_anti")
    val survivorSigs = batchSigs.join(dupIds, Seq("doc_id"), "left_anti")
    val within = minhashCandidatePairs(
      survivorSigs, bands, rowsPerBand, minEst, bucketCap)
    dedupByClusters(survivors, nearDupClusters(within))
  }

  /** Convenience wrapper computing both signature tables. */
  def dedupIncremental(batch: DataFrame, corpus: DataFrame, k: Int = 32,
                       bands: Int = 8, rowsPerBand: Int = 4,
                       minEst: Double = 0.5, bucketCap: Int = 1000): DataFrame =
    dedupIncrementalSigs(batch, minhashSignatures(batch, k),
      minhashSignatures(corpus, k), bands, rowsPerBand, minEst, bucketCap)

  /** 60-bit SimHash over tokens (md5-60 token hashes, so the oracle
    * can reproduce it — see [[SimHash64]], which kept its historical
    * name but emits 60 bits): per-bit ±1 votes weighted by token
    * occurrences, sign of each vote sum becomes the bit. Computed per
    * row by the native [[SimHash64]] expression — zero shuffle (the
    * earlier explode + 64-sum-columns formulation shuffled one row per
    * token; fingerprinting is a pure per-document function and belongs
    * in the narrow stage).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.GraftSqlShim.column(SimHash64(
        org.apache.spark.sql.GraftSqlShim.expression(
          TextFunctions.tokens(col("text"))))).as("simhash"))

  /** Driver-side exact union-find for pair sets that fit comfortably in
    * driver memory — collecting 5M pairs is ~80 MB and resolves in
    * milliseconds, versus seconds of scheduling latency PER ROUND for
    * the distributed loop. The same scale-awareness AQE applies to
    * joins (broadcast under threshold, shuffle above) applied to
    * connected components.
    */
  private def unionFindDriver(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    val out = parent.keys.toSeq.map(v => v -> find(v))
    out.toDF("doc_id", "cluster")
  }

  /** Diagnostic only: rounds the last [[nearDupClusters]] distributed
    * label-propagation run took to reach its fixpoint (-1 = the gated
    * driver union-find path ran instead). Written single-threadedly by
    * the driver; AdversarialSpec asserts the pointer-jumping
    * O(log diameter) bound against it. */
  @volatile private[graft] var lastLabelPropIterations: Int = -1

  /** Resolve near-dup candidate pairs into duplicate CLUSTERS and pick
    * one survivor per cluster (the min doc_id) — the step that turns
    * "candidate pairs" into an actual deduplicated corpus.
    *
    * Up to [[graft.ops.DriverTwin.MaxPairs]] pairs resolve by driver
    * union-find; larger pair sets by connected components through
    * iterative min-label propagation: each round, every node takes the
    * min label among itself and its neighbors; converges in
    * O(component diameter) rounds. Each round is one join + one
    * aggregate (shuffle on doc id); a [[graft.ops.Lineage.cut]] cuts
    * the growing lineage so round N doesn't replay rounds 1..N-1.
    * Returns (doc_id, cluster) for every doc that appears in a pair.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    lastLabelPropIterations = -1
    // the pair set feeds THREE plan branches of the distributed loop
    // (two edge directions + the node list) — persisted, or the whole
    // candidate-generation subtree executes three times
    graft.ops.DriverTwin.persistCount(pairs, graft.ops.DriverTwin.MaxPairs)(
      unionFindDriver)(labelPropClusters(_, maxIter))
  }

  /** [[nearDupClusters]]' distributed label propagation, whatever the
    * pair count. */
  private[graft] def nearDupClustersDistributed(pairs: DataFrame,
                                                maxIter: Int = 20): DataFrame =
    labelPropClusters(pairs.persistT, maxIter)

  /** `p` = the persisted pair set, unpersisted here. */
  private def labelPropClusters(p: DataFrame, maxIter: Int): DataFrame = {
    val nodes = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    // bidirectional edges + a self-loop per node: one join+aggregate
    // then computes min(own, neighbors) in a single pass
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .union(nodes.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .persistT
    val chain = graft.ops.Lineage.newChain("unionfind")
    // try/finally (ADVICE r11): a mid-loop failure must still drop the
    // helper persists and the chain's bookkeeping entry
    try {
    var labels = graft.ops.Lineage.cut(nodes.withColumn("cluster", col("doc_id")), chain)
    // labels only ever decrease, so the label sum is strictly monotone
    // until the fixpoint — an O(1)-row convergence probe with no
    // compare join
    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // 1-hop neighbor min…
      val nm = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster")), Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(min("cluster").as("cluster"))
      // …then path compression (pointer jumping): label(v) ←
      // label(label(v)). Without it convergence is O(diameter) rounds —
      // measured 20+ on chain-shaped near-dup components; with it the
      // effective distance halves per round → O(log diameter).
      // eager checkpoint: lazy (materialize-on-probe) measured SLOWER —
      // the checkpoint recomputes the frame after the probe's job
      labels = nm
        .join(nm.select(col("doc_id").as("cluster"), col("cluster").as("cc")),
          Seq("cluster"), "left")
        .select(col("doc_id"), coalesce(col("cc"), col("cluster")).as("cluster"))
      labels = graft.ops.Lineage.cut(labels, chain)
      val s = labels.agg(sum(col("cluster")).cast(DecimalType(38, 0)).as("s"))
        .collect()(0).getDecimal(0)
      done = s == prevSum
      prevSum = s
      iter += 1
    }
    lastLabelPropIterations = iter
    labels
    } finally {
      edges.unpersist()
      p.unpersist()
      graft.ops.Lineage.endChain(p.sparkSession, chain, deleteLast = false)
    }
  }

  /** The deduplicated corpus: keep every doc that is its cluster's
    * survivor (min id) plus every doc not implicated in any pair. */
  def dedupByClusters(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(clusters, Seq("doc_id"), "left")
      .where(col("cluster").isNull || col("cluster") === col("doc_id"))
      .drop("cluster")

  /** The SCRUB transform the span census prices: remove every
    * duplicated ≥ `minLen`-token span from every document EXCEPT one
    * canonical copy — the Lee et al. dedup applied at span grain
    * instead of doc grain. Ownership is doc-deterministic: each
    * duplicated window hash is owned by the MINIMUM doc_id holding it,
    * a non-owner position covered by any such window is removed, and
    * the owner keeps its copy. Ownership preserves one copy per
    * template EXCEPT where templates with different owners overlap
    * inside the owner doc: if the min-doc_id owner of template G also
    * carries an overlapping duplicated window H owned by a lower
    * doc_id, removing H's positions clips the owner's canonical copy
    * of G. A doc holding the same window twice keeps both — ownership
    * is doc-grain, the rule that needs no global occurrence order and
    * therefore no corpus-wide sort at 100 TB.
    *
    * Returns one row per SCRUBBED doc (n_removed > 0): token count,
    * removed count, kept share ppm, and the md5 of the space-joined
    * kept tokens — the full rewrite semantics hashed without shipping
    * the scrubbed text anywhere.
    *
    * Scale shape: the tokenize + L-window digest projection (native
    * one-pass kernels, [[TextFunctions.windowDigests]]) stays in the
    * scan stage; the (gram, doc_id, pos) rows then ride ONE hash
    * exchange on the 16-byte binary gram, sorted within the partition
    * by (gram, doc_id), and [[SpanOwnerStream]] emits every non-owner
    * window start in one pass (O(1) memory, no cap; a gram held by one
    * doc emits nothing, so no ≥ 2-docs census is needed). The starts — a few ints per
    * AFFECTED doc — fold into one doc-keyed collect_list, inner-join
    * the tokenized docs and rewrite each doc in one row
    * ([[scrubRewrite]]): unscrubbed docs drop at the join, and the
    * per-doc work is bounded by document length.
    * Skew: every occurrence of a hot window lands on one task — the
    * same bound the sort-merge gram join this pass replaced paid, so
    * no input skews it worse. No persist and no eager job: the result
    * is one lazy plan. */
  def spanScrub(docs: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    import docs.sparkSession.implicits._
    val L = minLen
    // narrow-input guard (r16): the L-window digests below are the
    // expensive projection — spread a single-split scan core-wide.
    // Only docs of ≥ L tokens can hold a window, and the doc_id guard
    // is the one the rewrite's inner join infers: with both filters
    // here, the window pass and the rewrite read the SAME subtree and
    // share one scan + spread exchange.
    val toked = graft.ops.RelationalOps.spreadNarrowInput(
      docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .where(size(col("ts")) >= L && col("doc_id").isNotNull),
      Seq(col("doc_id")))
    val starts = toked
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(TextFunctions.windowDigests(col("ts"), lit(L))))
      .select(col("col").as("gram"), col("doc_id"), col("pos"))
      .repartition(col("gram"))
      .sortWithinPartitions(col("gram"), col("doc_id"))
      .as[(Array[Byte], Long, Int)]
      .mapPartitions(it => new SpanOwnerStream(it))
      .toDF("doc_id", "pos")
    scrubRewrite(toked, starts, L)
  }

  /** One scrubbed doc's report (the [[spanScrub]] output columns after
    * doc_id). */
  private[graft] final case class Scrubbed(n_tokens: Long, n_removed: Long,
                                           kept_ppm: Long, scrubbed_hash: String)

  /** Rewrite one doc: remove every position in [p, p + L) for each
    * window start p (overlaps and repeats allowed; every start is a
    * window of the doc, so the doc is non-empty), then report the
    * token count, the removed count, the kept share in ppm and the md5
    * hex of the kept tokens joined by single spaces — Spark's
    * `md5(array_join(kept, " "))`, null tokens skipped as array_join
    * skips them. O(tokens + starts). */
  private[graft] def rewriteDoc(ts: Seq[String], starts: Seq[Int], L: Int): Scrubbed = {
    val n = ts.length
    val reach = new Array[Int](n) // furthest window end starting at i
    starts.foreach(p => reach(p) = math.max(reach(p), p + L))
    val kept = new java.lang.StringBuilder()
    var first = true
    var covered = 0
    var removed = 0L
    var i = 0
    while (i < n) {
      covered = math.max(covered, reach(i))
      if (i < covered) removed += 1
      else if (ts(i) != null) {
        if (!first) kept.append(' ')
        kept.append(ts(i)); first = false
      }
      i += 1
    }
    Scrubbed(n, removed, (n - removed) * 1000000L / n,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(kept.toString))
  }

  /** The doc-grain rewrite shared by [[spanScrub]] and
    * [[GramIndex.scrubProbe]]: `toked` is (doc_id, ts: token array),
    * `starts` the removed window starts (doc_id, pos) — each window
    * covers [pos, pos + L). One doc-keyed collect_list folds the starts
    * of the AFFECTED docs only, an inner join attaches their token
    * arrays, and [[rewriteDoc]] reports (doc_id, n_tokens, n_removed,
    * kept_ppm, scrubbed_hash) per affected doc. Unscrubbed docs never
    * enter the join's output, and at a 1 % scrub rate the starts side
    * is small enough for AQE to broadcast. */
  private[dedup] def scrubRewrite(toked: DataFrame, starts: DataFrame, L: Int): DataFrame = {
    val rewrite = udf((ts: Seq[String], st: Seq[Int]) => rewriteDoc(ts, st, L))
    toked.join(starts.groupBy(col("doc_id")).agg(collect_list(col("pos")).as("starts")),
        Seq("doc_id"))
      .select(col("doc_id"), rewrite(col("ts"), col("starts")).as("r"))
      .select(col("doc_id"), col("r.*"))
  }

  /** Incremental twin of [[dupSpans]]: maximal ≥ `minLen`-token spans
    * in `batch` documents that already exist VERBATIM anywhere in
    * `corpus` — the arriving-shard question ("which parts of the new
    * crawl are already in the training set", the span-grain analogue
    * of [[dedupIncremental]] and the exact-substring complement of the
    * n-gram decontamination screen). Only the batch side is windowed
    * into islands; the corpus contributes ONE distinct-gram set that
    * the batch grams left-semi join against — corpus text never
    * shuffles, and re-probing a new batch never re-shuffles the
    * corpus (pair it with a standing gram index for repeated probes).
    * Per-window guarantee, as in [[dupSpans]]: each L-window of a
    * reported span exists in the corpus, but a span may chain across
    * different corpus documents.
    */
  def dupSpansAgainst(batch: DataFrame, corpus: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    val L = minLen
    def gramsOf(docs: DataFrame): DataFrame = graft.ops.RelationalOps
      .spreadNarrowInput( // r16 narrow-input guard — see spanScrub
        docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
          .where(size(col("ts")) >= L),
        Seq(col("doc_id")))
      .select(col("doc_id"), posexplode(TextFunctions.windowDigests(col("ts"), lit(L))))
      .toDF("doc_id", "pos", "gram")
    val corpusGrams = gramsOf(corpus).select(col("gram")).distinct()
    gramsOf(batch).join(corpusGrams, Seq("gram"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + L).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** Exact-substring duplicated spans (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): the VARIABLE-LENGTH
    * complement of the fixed-window chunk hashing — every maximal token
    * span of length ≥ `minLen` that also appears in ANOTHER document,
    * reported as (doc_id, span_start, span_len, n_windows).
    *
    * The suffix-array formulation is inherently single-machine; the
    * distributed equivalent used here is the sliding-window
    * characterization: a span of length ≥ L is duplicated iff EVERY one
    * of its L-token windows is duplicated, so (1) hash every L-window
    * (a pure projection — the 16-byte md5 of each space-joined window,
    * [[TextFunctions.windowDigests]], no shuffle), (2) census window
    * hashes held by ≥ 2 distinct docs (ONE hash-partitioned aggregate —
    * a boilerplate window shared by a billion docs is one census row,
    * never a quadratic pair set), (3) merge each doc's consecutive duplicated
    * window positions into maximal spans (gaps-and-islands over a
    * PER-DOC window — bounded by document length, never corpus-wide).
    * Only 16-byte window hashes ever shuffle; text stays in the scan
    * stage. Overlapping seeds coalesce into one span; a whole-doc
    * duplicate yields exactly one span covering every position.
    *
    * Guarantee is PER-WINDOW, not per-span: every L-window of a
    * reported span is held by ≥ 2 docs, but consecutive windows may be
    * backed by DIFFERENT partner docs, so a coalesced span need not
    * appear verbatim in any single other document (the chaining caveat
    * of the sliding-window formulation; [[dupSpansAgainst]] and
    * [[GramIndex.probe]] share it).
    */
  def dupSpans(docs: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2: $minLen")
    val L = minLen
    val grams = graft.ops.RelationalOps
      .spreadNarrowInput( // r16 narrow-input guard — see spanScrub
        docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
          .where(size(col("ts")) >= L),
        Seq(col("doc_id")))
      .select(col("doc_id"), posexplode(TextFunctions.windowDigests(col("ts"), lit(L))))
      .toDF("doc_id", "pos", "gram")
      .persistT
    val dup = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .where(col("lo") < col("hi")).select(col("gram"))
    val spans = grams.join(dup, Seq("gram"))
      .withColumn("grp", col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + L).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
    spans
  }

  /** All [[dupSpans]] censuses for SEVERAL minimum span lengths in ONE
    * pipeline — the threshold-tuning shape (q291 prices minLen 8/16/32
    * against each other). Running dupSpans per length re-tokenizes the
    * corpus, re-shuffles a gram census and re-sorts the per-doc islands
    * window once PER length; here the lengths ride one pipeline tagged
    * by `min_len`:
    *   - tokenize once, explode the applicable lengths INSIDE the row
    *     (no shuffle carries the token array), digest every L-window
    *     of every length in the same projection (one
    *     [[TextFunctions.windowDigests]] kernel with a per-row length);
    *   - ONE (min_len, gram) census, ONE join, ONE per-(min_len, doc)
    *     islands window.
    * Per length the gram set, the ≥2-distinct-docs census and the
    * island merge are exactly [[dupSpans]]' (the md5 keys live in
    * disjoint min_len groups), so each min_len slice of the output is
    * row-identical to dupSpans(docs, L).
    * Returns (min_len, doc_id, span_start, span_len, n_windows). */
  def dupSpansMulti(docs: DataFrame, minLens: Seq[Int]): DataFrame = {
    require(minLens.nonEmpty && minLens.forall(_ >= 2),
      s"minLens must be non-empty, all >= 2: $minLens")
    val lens = array(minLens.map(lit): _*)
    val toked = graft.ops.RelationalOps.spreadNarrowInput(
      docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts")),
      Seq(col("doc_id")))
    val grams = toked
      .select(col("doc_id"), col("ts"),
        explode(filter(lens, l => size(col("ts")) >= l)).as("min_len"))
      .select(col("min_len"), col("doc_id"),
        posexplode(TextFunctions.windowDigests(col("ts"), col("min_len"))))
      .toDF("min_len", "doc_id", "pos", "gram")
      .persistT
    val dup = grams.groupBy(col("min_len"), col("gram"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .where(col("lo") < col("hi")).select("min_len", "gram")
    grams.join(dup, Seq("min_len", "gram"))
      .withColumn("grp", col("pos") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("min_len", "doc_id").orderBy("pos")))
      .groupBy(col("min_len"), col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + col("min_len")).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .drop("grp")
  }

  /** Near-dup pairs by SimHash: block on 16-bit chunks (a pair within
    * Hamming distance 3 of the 60-bit fingerprint must agree on at
    * least one of the four 16-bit chunks — pigeonhole over four chunks
    * covers bits 0..63, so the 60-bit value is safely inside it),
    * verify with exact popcount.
    */
  def simhashNearDupPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = array((0 until 4).map { i =>
      struct(lit(i).as("chunk"),
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }: _*)
    val blocked = fps.select(col("doc_id"), col("simhash"), explode(chunks).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk").as("chunk"), col("c.v").as("v"))
    val x = blocked.select(col("chunk"), col("v"), col("doc_id").as("doc_a"), col("simhash").as("fp_a"))
    val y = blocked.select(col("chunk"), col("v"), col("doc_id").as("doc_b"), col("simhash").as("fp_b"))
    x.join(y, Seq("chunk", "v"))
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
