package graft.dedup

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
  extends Iterator[(Long, Long, Double)] {

  private val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
  private val out = new scala.collection.mutable.ArrayDeque[(Long, Long, Double)]()
  private var curBand = 0
  private var curBh = 0L
  private var haveBucket = false
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

  private def fill(): Unit = {
    while (out.isEmpty && rows.hasNext) {
      val (band, bh, side, id, sig) = rows.next()
      if (sig != null) {
        if (!haveBucket || band != curBand || bh != curBh) {
          curBand = band; curBh = bh; haveBucket = true
          buf.clear(); corpusCount = 0; overCap = false; haveAnchor = false
        }
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
    }
  }

  override def hasNext: Boolean = { fill(); out.nonEmpty }
  override def next(): (Long, Long, Double) = { fill(); out.removeHead() }
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
  extends Iterator[(Long, Int)] {

  private var curGram: String = null
  private var owner = 0L
  private var pending: (Long, Int) = null

  private def fill(): Unit =
    while (pending == null && rows.hasNext) {
      val (gram, id, pos) = rows.next()
      if (curGram == null || gram != curGram) { curGram = gram; owner = id }
      else if (id != owner) pending = (id, pos)
    }

  override def hasNext: Boolean = { fill(); pending != null }
  override def next(): (Long, Int) = {
    fill()
    if (pending == null) throw new NoSuchElementException("SpanOwnerStream exhausted")
    val out = pending
    pending = null
    out
  }
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
  extends Iterator[(Int, String, String, Long)] {

  private val buf = new scala.collection.mutable.ArrayBuffer[(String, Long)]()
  private val out = new scala.collection.mutable.ArrayDeque[(Int, String, String, Long)]()
  private var curKey: String = null
  private var haveKey = false
  private var overCap = false

  private def endBucket(): Unit = {
    if (haveKey && !overCap && buf.length >= 2) {
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
    overCap = false
  }

  private def fill(): Unit = {
    while (out.isEmpty && rows.hasNext) {
      val (key, member, occ) = rows.next()
      if (!haveKey || key != curKey) {
        endBucket()
        curKey = key; haveKey = true
      }
      if (!overCap) {
        buf.append((member, occ))
        if (buf.length > cap) { // breadth cap crossed: one marker, drop the rest
          overCap = true
          buf.clear()
          out.append((1, "", "", 0L))
        }
      }
    }
    if (out.isEmpty && haveKey) { endBucket(); haveKey = false }
  }

  override def hasNext: Boolean = { fill(); out.nonEmpty }
  override def next(): (Int, String, String, Long) = { fill(); out.removeHead() }
}

/** Streaming all-ordered-pairs per bucket over a (key, id)-sorted
  * partition iterator (r17) — the containment-index shape: input rows
  * are (gram hash, doc_id) hash-partitioned by gram and sorted within
  * the partition; every under-cap gram bucket emits ALL ordered pairs
  * (a ≠ b, both orientations — containment is asymmetric), an
  * over-cap gram is boilerplate and is dropped WHOLE (the dfCap
  * discipline: its df² pairs are exactly what containment must not be
  * built on). Replaces the census + anti-join + hash self-join chain
  * with one sorted exchange; memory is ≤ cap+1 ids per bucket. */
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
  * with its MIN doc_id first. Per bucket:
  *
  *   - under-cap (≤ cap members): buffer the members (bounded by cap)
  *     and emit every id-ordered pair whose signature agreement reaches
  *     `minEst` — the [[SigAgreement]] arithmetic, same integer count,
  *     same double divide, pairs (doc_a < doc_b) because the buffer is
  *     already id-sorted;
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
  extends Iterator[(Long, Long, Double)] {

  private val buf = new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
  private val out = new scala.collection.mutable.ArrayDeque[(Long, Long, Double)]()
  private var curBand = 0
  private var curBh = 0L
  private var haveBucket = false
  private var count = 0
  private var overCap = false
  private var anchorId = 0L
  private var anchorSig: Array[Long] = null

  private def agree(a: Array[Long], b: Array[Long]): Double = {
    val lim = math.min(k, math.min(a.length, b.length))
    var c = 0
    var i = 0
    while (i < lim) { if (a(i) == b(i)) c += 1; i += 1 }
    c.toDouble / k
  }

  private def starEmit(id: Long, sig: Array[Long]): Unit =
    if (id != anchorId) {
      val est = agree(anchorSig, sig)
      if (est >= minEst) out.append((anchorId, id, est))
    }

  private def add(id: Long, sig: Array[Long]): Unit = {
    count += 1
    if (overCap) starEmit(id, sig)
    else if (count <= cap) buf.append((id, sig))
    else { // member cap+1: over-cap — switch this bucket to star mode
      overCap = true
      var i = 1 // buf(0) is the anchor itself
      while (i < buf.length) { starEmit(buf(i)._1, buf(i)._2); i += 1 }
      buf.clear()
      starEmit(id, sig)
    }
  }

  private def endBucket(): Unit = {
    if (haveBucket && !overCap && buf.length >= 2) {
      val n = buf.length
      var a = 0
      while (a < n - 1) {
        val (ia, sa) = buf(a)
        var b = a + 1
        while (b < n) {
          val (ib, sb) = buf(b)
          val est = agree(sa, sb)
          if (est >= minEst) out.append((ia, ib, est))
          b += 1
        }
        a += 1
      }
    }
    buf.clear()
    haveBucket = false
  }

  private def fill(): Unit = {
    while (out.isEmpty && rows.hasNext) {
      val (band, bh, id, sig) = rows.next()
      if (sig != null) {
        if (!haveBucket || band != curBand || bh != curBh) {
          endBucket()
          curBand = band; curBh = bh; haveBucket = true
          count = 0; overCap = false
          anchorId = id; anchorSig = sig
          add(id, sig)
        } else add(id, sig)
      }
    }
    if (out.isEmpty && haveBucket) endBucket()
  }

  override def hasNext: Boolean = { fill(); out.nonEmpty }
  override def next(): (Long, Long, Double) = { fill(); out.removeHead() }
}
