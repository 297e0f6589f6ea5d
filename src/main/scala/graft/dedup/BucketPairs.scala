package graft.dedup

/** The one pattern every streaming kernel over a sorted exchange
  * shares: rows arrive hash-partitioned by a run key and sorted within
  * the partition, so each run (bucket, gram, ...) is contiguous. The
  * subclass says when a row continues the run in progress, and what to
  * do at a run's start, per row and at its end; output goes through
  * `out`, which is drained before the next input row is read, and the
  * last run is ended when the input runs dry. */
private[graft] abstract class SortedRunStream[R, O](rows: Iterator[R]) extends Iterator[O] {
  protected final val out = new scala.collection.mutable.ArrayDeque[O]()
  private var open = false

  /** Does `r` belong to the run in progress? */
  protected def sameRun(r: R): Boolean
  /** A new run starts at `r` (called before `add(r)`). */
  protected def begin(r: R): Unit
  protected def add(r: R): Unit
  protected def end(): Unit

  private def fill(): Unit = {
    while (out.isEmpty && rows.hasNext) {
      val r = rows.next()
      if (!open || !sameRun(r)) {
        if (open) end()
        begin(r)
        open = true
      }
      add(r)
    }
    if (out.isEmpty && open) { end(); open = false }
  }

  override final def hasNext: Boolean = { fill(); out.nonEmpty }
  override final def next(): O = { fill(); out.removeHead() }
}

/** One run's members under the skew cap — the verify-and-emit core of
  * the pair kernels. While the run holds ≤ `cap` members they buffer,
  * and [[end]] emits every pair whose `score` is a number ≥ `minScore`.
  * Member cap+1 switches the run to STAR mode: the first member (the
  * anchor; the run's minimum id when the run is id-sorted) pairs with
  * every buffered member at once and with every later member as it
  * streams, so memory stays at ≤ cap+1 members and the output is
  * O(run), not O(run²). Pairs are id-ordered `(min, max, score)`; a
  * member never pairs with its own id. `score` must be symmetric. */
private[graft] abstract class CappedRun[P](cap: Int, minScore: Double,
    out: scala.collection.mutable.ArrayDeque[(Long, Long, Double)]) {
  protected def score(a: P, b: P): Double

  private var ids = new Array[Long](16)
  private val ps = new scala.collection.mutable.ArrayBuffer[P]()
  private var star = false

  /** Members held: all of them under the cap, the anchor alone in star mode. */
  def size: Int = ps.length
  def payloadAt(i: Int): P = ps(i)

  private def emit(a: Long, pa: P, b: Long, pb: P): Unit =
    if (a != b) {
      val s = score(pa, pb)
      // a NaN score (a zero or NaN vector) fails `>=` on the JVM —
      // unlike Spark's ordering, where NaN is greater than every number
      if (s >= minScore) out.append(if (a < b) (a, b, s) else (b, a, s))
    }

  def add(id: Long, p: P): Unit =
    if (star) emit(ids(0), ps(0), id, p)
    else {
      if (ps.length == ids.length) ids = java.util.Arrays.copyOf(ids, ids.length * 2)
      ids(ps.length) = id
      ps.append(p)
      if (ps.length > cap) { // member cap+1: star pairs to the anchor from here on
        star = true
        var i = 1
        while (i < ps.length) { emit(ids(0), ps(0), ids(i), ps(i)); i += 1 }
        ps.remove(1, ps.length - 1)
      }
    }

  /** Ends the run: an under-cap run emits all its verified pairs. */
  def end(): Unit = {
    if (!star) {
      val n = ps.length
      var a = 0
      while (a < n - 1) {
        var b = a + 1
        while (b < n) { emit(ids(a), ps(a), ids(b), ps(b)); b += 1 }
        a += 1
      }
    }
    clear()
  }

  /** Drops the members without emitting anything. */
  def clear(): Unit = { ps.clear(); star = false }
}

/** Streaming PROBE verification over a (band, bh, side, doc_id)-sorted
  * partition iterator (r17) — the between-tables kernel shape: rows
  * are (band, bh, side, doc_id, sig) with side 0 = the INDEX/corpus,
  * side 1 = the probing batch, hash-partitioned by (band, bh) and
  * sorted within the partition, so each bucket arrives with all its
  * corpus members FIRST (min doc_id leading = the star anchor). Per
  * bucket: corpus members buffer up to the skew cap; the moment the
  * cap is crossed the bucket switches to anchor-only (the over-cap
  * star policy — the whole bucket is near-identical content and the
  * anchor stands for it through the est filter); each batch member
  * then emits (batch, corpus, agreement) inline against the buffer
  * (or the anchor), keeping only est ≥ minEst. Replaces the index
  * census + cap semi-join + candidate join + distinct + two attach
  * joins; memory is ≤ cap corpus signatures. Members with a NULL
  * signature are skipped (same contract as [[BucketPairStream]]). */
private[dedup] final class ProbePairStream(
    rows: Iterator[(Int, Long, Int, Long, Array[Long])],
    k: Int, minEst: Double, cap: Int)
  extends SortedRunStream[(Int, Long, Int, Long, Array[Long]), (Long, Long, Double)](
    rows.filter(_._5 != null)) {

  private val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
  private var curBand = 0
  private var curBh = 0L
  private var corpusCount = 0
  private var overCap = false
  private var anchorId = 0L
  private var anchorSig: Array[Long] = null
  private var haveAnchor = false

  private def agree(a: Array[Long], b: Array[Long]): Double = {
    val lim = math.min(k, math.min(a.length, b.length))
    var c = 0
    var i = 0
    while (i < lim) { if (a(i) == b(i)) c += 1; i += 1 }
    c.toDouble / k
  }

  protected def sameRun(r: (Int, Long, Int, Long, Array[Long])): Boolean =
    r._1 == curBand && r._2 == curBh

  protected def begin(r: (Int, Long, Int, Long, Array[Long])): Unit = {
    curBand = r._1; curBh = r._2
    buf.clear(); corpusCount = 0; overCap = false; haveAnchor = false
  }

  protected def add(r: (Int, Long, Int, Long, Array[Long])): Unit = {
    val (_, _, side, id, sig) = r
    if (side == 0) { // corpus member (sorted before every batch member)
      corpusCount += 1
      if (!haveAnchor) { anchorId = id; anchorSig = sig; haveAnchor = true }
      if (!overCap) {
        if (corpusCount <= cap) buf.append((id, sig))
        else { overCap = true; buf.clear() }
      }
    } else if (haveAnchor) { // batch member probing a non-empty bucket
      if (overCap) {
        val est = agree(sig, anchorSig)
        if (est >= minEst) out.append((id, anchorId, est))
      } else {
        var i = 0
        while (i < buf.length) {
          val (cid, csig) = buf(i)
          val est = agree(sig, csig)
          if (est >= minEst) out.append((id, cid, est))
          i += 1
        }
      }
    }
  }

  protected def end(): Unit = ()
}

/** Streaming span-scrub OWNER pass over a (gram, doc_id)-sorted
  * partition iterator — the [[Dedup.spanScrub]] kernel shape: rows are
  * (gram, doc_id, pos) hash-partitioned by gram and sorted within the
  * partition, so each gram's occurrences arrive consecutively with the
  * MINIMUM doc_id — the owner — first. Every occurrence held by a later
  * doc emits its (doc_id, pos) window start; the owner's own rows
  * (repeats included) never do, so a gram held by one doc emits
  * nothing and no ≥ 2-docs census is needed. Memory is O(1), no cap. */
private[graft] final class SpanOwnerStream(rows: Iterator[(String, Long, Int)])
  extends SortedRunStream[(String, Long, Int), (Long, Int)](rows) {

  private var gram: String = null
  private var owner = 0L

  protected def sameRun(r: (String, Long, Int)): Boolean = r._1 == gram
  protected def begin(r: (String, Long, Int)): Unit = { gram = r._1; owner = r._2 }
  protected def add(r: (String, Long, Int)): Unit =
    if (r._2 != owner) out.append((r._2, r._3))
  protected def end(): Unit = ()
}

/** Streaming capped member-set pair emitter over a (key, member)-sorted
  * partition iterator (r17) — the breadth-capped affinity shape (q290):
  * rows are (gram, member, occ) hash-partitioned by gram and sorted
  * within the partition. An under-cap gram emits one
  * (0, a, b, occ_a + occ_b) row per member pair (a < b in the sort
  * order — Spark's binary string order, the old `source_a < source_b`
  * filter); a gram broader than `cap` is boilerplate and emits ONE
  * (1, "", "", 0) marker row instead (the breadth-cap discipline:
  * capped, counted, never silently dropped). Memory ≤ cap+1 members. */
private[graft] final class CappedSetPairStream(
    rows: Iterator[(String, String, Long)], cap: Int)
  extends SortedRunStream[(String, String, Long), (Int, String, String, Long)](rows) {

  private val buf = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
  private var curKey: String = null
  private var overCap = false

  protected def sameRun(r: (String, String, Long)): Boolean = r._1 == curKey
  protected def begin(r: (String, String, Long)): Unit = { curKey = r._1; overCap = false }

  protected def add(r: (String, String, Long)): Unit =
    if (!overCap) {
      buf.append((r._2, r._3))
      if (buf.length > cap) { // breadth cap crossed: one marker, drop the rest
        overCap = true
        buf.clear()
        out.append((1, "", "", 0L))
      }
    }

  protected def end(): Unit = {
    if (!overCap) {
      var i = 0
      while (i < buf.length - 1) {
        val (sa, oa) = buf(i)
        var j = i + 1
        while (j < buf.length) {
          val (sb, ob) = buf(j)
          out.append((0, sa, sb, oa + ob))
          j += 1
        }
        i += 1
      }
    }
    buf.clear()
  }
}

/** Streaming all-ordered-pairs per bucket over a (key, id)-sorted
  * partition iterator (r17) — the containment-index shape: input rows
  * are (gram hash, doc_id) hash-partitioned by gram and sorted within
  * the partition; every under-cap gram bucket emits ALL ordered pairs
  * (a ≠ b, both orientations — containment is asymmetric), an
  * over-cap gram is boilerplate and is dropped WHOLE (the dfCap
  * discipline: its df² pairs are exactly what containment must not be
  * built on). Replaces the census + anti-join + hash self-join chain
  * with one sorted exchange; memory is ≤ cap+1 ids per bucket. Not a
  * [[SortedRunStream]]: a bucket's pairs are emitted from a cursor
  * instead of being queued, since one bucket yields up to cap² of them. */
private[dedup] final class BucketAllPairsStream(
    rows: Iterator[(Long, Long)], cap: Int)
  extends Iterator[(Long, Long)] {

  private var ids = new Array[Long](math.min(cap + 1, 1024))
  private var n = 0
  private var curKey = 0L
  private var haveKey = false
  private var overCap = false
  // pair cursor over the finished bucket
  private var emitIds: Array[Long] = null
  private var emitN = 0
  private var ea = 0
  private var eb = 0

  private def add(id: Long): Unit = {
    if (overCap) return
    if (n > cap) { overCap = true; return }
    if (n == ids.length) ids = java.util.Arrays.copyOf(ids, math.min(ids.length * 2, cap + 2))
    ids(n) = id
    n += 1
    if (n > cap) overCap = true
  }

  private def finishBucket(): Unit = {
    if (haveKey && !overCap && n >= 2) {
      emitIds = ids; emitN = n; ea = 0; eb = 1
      ids = new Array[Long](math.min(cap + 1, 1024))
    }
    n = 0; overCap = false
  }

  private def fill(): Unit = {
    while (emitIds == null && rows.hasNext) {
      val (key, id) = rows.next()
      if (!haveKey || key != curKey) {
        finishBucket()
        curKey = key; haveKey = true
      }
      add(id)
    }
    if (emitIds == null && haveKey) { finishBucket(); haveKey = false }
  }

  override def hasNext: Boolean = { if (emitIds == null) fill(); emitIds != null }

  override def next(): (Long, Long) = {
    if (emitIds == null) fill()
    val out = (emitIds(ea), emitIds(eb))
    // advance the (a, b) cursor over all ordered pairs a != b
    eb += 1
    if (eb == ea) eb += 1
    if (eb >= emitN) { ea += 1; eb = 0 }
    if (ea >= emitN) emitIds = null
    out
  }
}

/** Streaming per-bucket pair verification over a (band, bh, doc_id)-
  * sorted partition iterator — the one-exchange kernel (r17). Input
  * rows are (band, bh, doc_id, sig) hash-partitioned by (band, bh) and
  * sorted within the partition, so every bucket arrives consecutively
  * with its MIN doc_id first. Each bucket is one [[CappedRun]]:
  *
  *   - under-cap (≤ cap members): buffer the members (bounded by cap)
  *     and emit every pair (doc_a < doc_b) whose signature agreement
  *     reaches `minEst` — the [[SigAgreement]] arithmetic, same integer
  *     count, same double divide;
  *   - over-cap: the moment member cap+1 arrives, flush the buffered
  *     members as STAR pairs to the bucket-min anchor (the first row)
  *     and stream every further member the same way — O(bucket) rows,
  *     O(cap) memory, the skew guard's bound. Star pairs carry the
  *     IDENTICAL inline agreement the attach-join + [[SigAgreement]]
  *     path computed (r16 formulation), so est is bit-equal.
  *
  * Why: the two-pass formulation shuffled the banded frame TWICE on
  * (band, bh) — once for the size census, once for the collect_list —
  * and over-cap members rode two more doc-keyed attach joins. This
  * pass reads the one sorted exchange and emits only survivors;
  * memory is bounded by cap member signatures (~264 KB at cap 1000).
  *
  * Contract: members with a NULL signature are skipped — they carry
  * nothing to verify. [[Dedup.minhashSignatures]] never emits them,
  * but [[Dedup.minhashCandidatePairs]] is public and banding passes a
  * null `sig` through (DedupSpec pins the skip). */
private[dedup] final class BucketPairStream(
    rows: Iterator[(Int, Long, Long, Array[Long])],
    k: Int, minEst: Double, cap: Int)
  extends SortedRunStream[(Int, Long, Long, Array[Long]), (Long, Long, Double)](
    rows.filter(_._4 != null)) {

  private val run = new CappedRun[Array[Long]](cap, minEst, out) {
    protected def score(a: Array[Long], b: Array[Long]): Double = {
      val lim = math.min(k, math.min(a.length, b.length))
      var c = 0
      var i = 0
      while (i < lim) { if (a(i) == b(i)) c += 1; i += 1 }
      c.toDouble / k
    }
  }
  private var band = 0
  private var bh = 0L

  protected def sameRun(r: (Int, Long, Long, Array[Long])): Boolean = r._1 == band && r._2 == bh
  protected def begin(r: (Int, Long, Long, Array[Long])): Unit = { band = r._1; bh = r._2 }
  protected def add(r: (Int, Long, Long, Array[Long])): Unit = run.add(r._3, r._4)
  protected def end(): Unit = run.end()
}
