package graft.sim

import graft.dedup.{CappedRun, SortedRunStream}

/** Streaming embedding near-dup verification over a
  * (tbl, bucket, sub, vec_id)-sorted partition iterator — the kernel of
  * [[VectorFunctions.cosineNearDupPairs]]. Rows are
  * (tbl, bucket, sub, vec_id, embedding), hash-partitioned by
  * (tbl, bucket) and sorted within the partition, so each bucket
  * arrives contiguously and, inside it, each refinement sub-bucket
  * (`sub`) is a contiguous run led by its minimum id. Per bucket:
  *
  *   - under-cap (≤ cap members): every pair (vec_a < vec_b) whose
  *     exact cosine is ≥ `minCos` and not NaN;
  *   - over-cap: when member cap+1 arrives, the buffered members are
  *     replayed as finished sub-runs and the bucket streams on one
  *     sub-run at a time. Each sub-run is a [[CappedRun]]: ≤ cap members
  *     emit all their verified pairs, a sub-run over cap emits STAR
  *     pairs (anchor, id) to its first member, the sub-run's minimum id.
  *
  * The cosine is [[CosineSimilarity.of]] over the two embeddings the
  * rows already carry — no join back to the vectors. Memory is O(cap)
  * embeddings: one bucket below the cap, or one sub-run's buffer. */
private[graft] final class CosinePairStream(
    rows: Iterator[(Int, Int, Int, Long, Array[Float])], minCos: Double, cap: Int)
  extends SortedRunStream[(Int, Int, Int, Long, Array[Float]), (Long, Long, Double)](rows) {

  private type Row = (Int, Int, Int, Long, Array[Float])

  private final class Run extends CappedRun[Row](cap, minCos, out) {
    protected def score(a: Row, b: Row): Double = CosineSimilarity.of(a._5, b._5)
  }

  private val bucket = new Run // the whole bucket while it is under the cap
  private val subRun = new Run // the current sub-run of an over-cap bucket
  private var tbl = 0
  private var bkt = 0
  private var hot = false
  private var sub = 0
  private var subOpen = false

  protected def sameRun(r: Row): Boolean = r._1 == tbl && r._2 == bkt
  protected def begin(r: Row): Unit = { tbl = r._1; bkt = r._2; hot = false }

  protected def add(r: Row): Unit =
    if (hot) toSubRun(r)
    else if (bucket.size < cap) bucket.add(r._4, r)
    else { // member cap+1: the bucket splits into its sub-runs
      hot = true
      var i = 0
      while (i < bucket.size) { toSubRun(bucket.payloadAt(i)); i += 1 }
      bucket.clear()
      toSubRun(r)
    }

  private def toSubRun(r: Row): Unit = {
    if (!subOpen || r._3 != sub) {
      if (subOpen) subRun.end()
      sub = r._3
      subOpen = true
    }
    subRun.add(r._4, r)
  }

  protected def end(): Unit =
    if (hot) { subRun.end(); subOpen = false }
    else bucket.end()
}
