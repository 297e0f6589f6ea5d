package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Streaming sinks with replay protection.
  *
  * Structured Streaming guarantees foreachBatch sees each (batchId,
  * data) pair deterministically REPLAYED after a failure — it does NOT
  * guarantee the function ran only once. Idempotence is the sink's
  * job: this one partitions output by batch id and treats a committed
  * `_SUCCESS` marker as "this batch already landed", so a replayed
  * batch is skipped instead of appended twice. The same job-commit
  * marker protocol as [[graft.ref.Checkpoints]] (single writer per
  * directory — which foreachBatch provides: one concurrent invocation
  * per query).
  */
object StreamSinks {

  /** True iff `batchId` already committed under `dir`. */
  def batchCommitted(df: DataFrame, dir: String, batchId: Long): Boolean = {
    val marker = new Path(s"$dir/batch=$batchId/_SUCCESS")
    marker.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  /** Continuously-maintained aggregate state — the streaming form of
    * [[graft.ops.RelationalOps.mergeAggState]]: each micro-batch's
    * partial aggregate is merged into a standing per-key state table,
    * so the "materialized view" is always one batch behind the stream
    * instead of one full recompute behind. State versions are written
    * as `v=<batchId>` directories with the same `_SUCCESS`-marker
    * protocol as [[idempotentParquet]]: a replayed batch finds its own
    * committed version and skips (drain-only), a half-written version
    * has no marker and is overwritten wholesale, and the reader
    * ([[readAggState]]) only ever sees the latest COMMITTED version —
    * exactly-once state under foreachBatch's at-least-once calls.
    * Old versions beyond a safety margin are pruned after each commit.
    *
    * `partial` maps the raw micro-batch to state-shaped rows (keys +
    * measure columns, one row per key) — the same function that
    * bootstrap-builds the state from history in the batch world, which
    * is what makes stream and batch MV maintenance share one code
    * path (q105's operator).
    */
  def aggStateSink(dir: String, keys: Seq[String],
                   measures: Seq[(String, String)],
                   keepVersions: Int = 2)
                  (partial: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (df, batchId) => {
      val spark = df.sparkSession
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = committedVersions(fs, root)
      if (committed.contains(batchId)) {
        df.foreach(_ => ()) // replay: drain for upstream state commit, write nothing
      } else {
        val delta = partial(df)
        val merged = committed.filter(_ < batchId).maxOption match {
          case Some(v) => graft.ops.RelationalOps.mergeAggState(
            spark.read.parquet(s"$dir/v=$v"), delta, keys, measures)
          case None => delta
        }
        merged.write.mode(SaveMode.Overwrite).parquet(s"$dir/v=$batchId")
        // retention: keep the newest `keepVersions` (incl. this one) so
        // a reader that resolved "latest" just before this commit
        // still finds its files
        (committed :+ batchId).sorted.dropRight(keepVersions)
          .foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
      }
    }

  /** Streaming ingestion dedup — append each micro-batch MINUS the
    * keys already in the standing corpus, exactly once. The crawl-
    * frontier shape: at 100 TB the standing key set can't join every
    * arriving batch wholesale, so membership is tiered the
    * [[graft.dedup.Dedup.contaminationStatsBloom]] way:
    *
    *   1. a standing BLOOM over all appended keys filters the batch
    *      inside codegen — rows failing it are DEFINITELY new and
    *      skip membership entirely (no false negatives by
    *      construction, spec-pinned);
    *   2. only the ~fpp sliver passing the bloom anti-joins the
    *      standing key table for the exact verdict.
    *
    * The bloom is monoid state: the batch's new keys fit a batch
    * bloom that OR-merges into the standing one (`mergeInPlace`), so
    * maintenance is a read-modify-write of a fixed-size bitset, never
    * a refit over history. Output batches land via the
    * [[idempotentParquet]] layout (replay drains and skips); the bloom
    * file commits AFTER the batch dir, so a crash between the two
    * replays the batch into an already-filtering bloom — the exact
    * verify absorbs the resulting false positives, never drops a new
    * key. Within-batch duplicates collapse to their first row
    * (explicit keepFirst on the key, batch order by key for
    * determinism). */
  def dedupAppendSink(dir: String, keyCol: String,
                      expectedKeys: Long = 10000000L,
                      fpp: Double = 0.01): (DataFrame, Long) => Unit =
    (df, batchId) => {
      val spark = df.sparkSession
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (batchCommitted(df, dir, batchId)) {
        df.foreach(_ => ()) // replay: drain for upstream state, write nothing
      } else {
        require(df.schema(keyCol).dataType ==
          org.apache.spark.sql.types.LongType, "dedup key must be BIGINT")
        val key = org.apache.spark.sql.functions.col(keyCol)
        val bloomPath = new Path(root, "_keys.bloom")
        val standingBytes: Option[Array[Byte]] =
          if (!fs.exists(bloomPath)) None
          else {
            val in = fs.open(bloomPath)
            try Some(in.readAllBytes()) finally in.close()
          }

        val batch = graft.ops.RelationalOps.keepFirst(df, Seq(keyCol), Seq(key.asc))
        val hasAppends = fs.exists(root) &&
          fs.listStatus(root).exists(_.getPath.getName.startsWith("batch="))
        val fresh = (standingBytes, hasAppends) match {
          case (Some(bytes), true) =>
            // definitely-new fast path skips membership; the ~fpp
            // sliver passing the bloom gets the exact anti-join
            val suspect = batch
              .where(graft.functions.Bloom.mightContain(bytes, key))
              .join(spark.read.parquet(dir).select(key), Seq(keyCol), "left_anti")
            batch.where(!graft.functions.Bloom.mightContain(bytes, key))
              .unionByName(suspect)
          case (None, true) => // bloom lost/first upgrade: exact-only path
            batch.join(spark.read.parquet(dir).select(key), Seq(keyCol), "left_anti")
          case _ => batch
        }

        // batch dir first, bloom second (see scaladoc for the crash story)
        fresh.persist()
        fresh.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
        if (fresh.isEmpty) { fresh.unpersist(); () } // all-repeat batch: bloom unchanged
        else {
          // distributed bloom over the appended keys (bitset to the
          // driver, never the keys), OR-merged into the standing filter
          val batchBloom = graft.functions.Bloom.read(
            graft.functions.Bloom.fit(fresh, keyCol, expectedKeys, fpp))
          fresh.unpersist()
          val merged = standingBytes match {
            case Some(bytes) => graft.functions.Bloom.read(bytes).mergeInPlace(batchBloom)
            case None => batchBloom
          }
          val out = fs.create(bloomPath, true)
          try merged.writeTo(out) finally out.close()
        }
      }
    }

  /** Streaming exact-substring decontamination + scrub — the crawl-
    * pipeline form of [[graft.dedup.GramIndex.scrubProbe]]: every
    * arriving micro-batch of documents is scrubbed against the corpus-
    * so-far (the standing index plus all prior batches), the scrub
    * report lands exactly-once in the `batch=<id>` layout, and the
    * batch's own grams are appended so the NEXT shard dedups against
    * this one — the span-grain analogue of [[dedupAppendSink]].
    *
    * Append-BEFORE-probe, which is both the crash-safe order and a
    * semantic no-op: probing a batch against an index that already
    * contains the batch's own grams returns EXACTLY the pre-append
    * scrub — a gram held only by one batch doc arrives owner=itself
    * (kept, unreported), a batch-internal duplicate arrives
    * owner=min batch holder (same as the min_b < max_b path), and a
    * corpus-standing gram min-merges identically (StreamScrubSpec pins
    * probe-after-append ≡ probe-then-append). Replay therefore cannot
    * change results: a crash between append and report commit replays
    * into duplicate (gram, owner) rows that min-merge to the same
    * owners — observably idempotent, reclaimed by the next
    * [[graft.dedup.GramIndex.compact]]; a replay of a COMMITTED batch
    * drains and writes nothing. Single writer per index name, as
    * everywhere in the index family.
    *
    * 100 TB shape: per micro-batch, gram+census cost ∝ shard, index
    * side consumed in its bucket layout (no corpus exchange), report
    * rollup pruned to affected docs — the standing corpus is never
    * re-shuffled no matter how many shards stream in. */
  def spanScrubSink(indexName: String, spec: graft.dedup.GramIndex.Spec,
                    dir: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, dir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        val batch = df.persist()
        // scoped release, as in leakAttributionSink: the scrub probe's
        // tracked persists must not outlive the micro-batch
        try graft.ops.TrackedCache.scoped(batch.sparkSession) {
          graft.dedup.GramIndex.append(batch, indexName, spec)
          graft.dedup.GramIndex.scrubProbe(batch.sparkSession, batch, indexName, spec)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
          // Segment hygiene: every append lands one delta segment, and
          // probe read-amplification grows with segment count — fold the
          // deltas every 8 batches (MINOR compaction: cost ∝ appended
          // data, the base is untouched, and the fold is a semantic
          // no-op, so it composes with replay idempotence). The sink is
          // the index's single writer — an out-of-band major compact
          // must not run while the stream is active.
          if (batchId % 8 == 7)
            graft.dedup.GramIndex.compactDelta(batch.sparkSession, indexName, spec)
        } finally batch.unpersist()
      }
    }

  /** Streaming TAKEDOWN — retraction requests consumed as a STREAM
    * next to appends (VERDICT r15 #7), closing the loop that made
    * retraction a batch-only verb: each micro-batch is a COMMAND batch
    * whose optional `op` column routes rows ("append" →
    * [[graft.dedup.GramIndex.append]], "retract" →
    * [[graft.dedup.GramIndex.retract]]; no `op` column = all retracts),
    * appends folded BEFORE retracts so a doc both added and named in
    * one batch nets to removed — exactly the sequential batch fold. A
    * one-row receipt (append/retract doc counts) lands in the
    * `batch=<id>` layout for observability.
    *
    * Exactly-once under foreachBatch's at-least-once calls, layered:
    *  - a replay of a COMMITTED batch drains and writes nothing
    *    (`_SUCCESS` gate, as everywhere);
    *  - a crash AFTER the index fold but before the receipt commit
    *    replays into the index's own idempotency: retract's
    *    digest-named tombstone/id tables drop already-retracted ids
    *    first and rewrite in place, so even a PARTIAL overlap nets
    *    exactly once; a replayed append min-merges scrub-identically,
    *    with stats re-folded exactly at the next compact (the sidecar
    *    dedupe);
    *  - a crash INSIDE retract between its two writes leaves an
    *    unpaired tombstone that any LATER takedown refuses loudly —
    *    and the restarted query's replay of the crashed batch is
    *    precisely the "exact replay" the pairing check lets through to
    *    heal.
    * Single writer per index name: while this sink is active it must be
    * the index's only writer (it runs its own minor compaction every 8
    * batches, like [[spanScrubSink]]). Build the index with
    * `Spec(ownerSidecar = true)` if owner-dependent probes must stay
    * exact after streamed takedowns. */
  def takedownSink(indexName: String, spec: graft.dedup.GramIndex.Spec,
                   dir: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, dir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        val batch = df.persist()
        try graft.ops.TrackedCache.scoped(batch.sparkSession) {
          import org.apache.spark.sql.functions.{col, countDistinct}
          val hasOp = batch.columns.contains("op")
          val adds = if (hasOp) batch.where(col("op") === "append").drop("op")
                     else batch.limit(0)
          val rms = if (hasOp) batch.where(col("op") === "retract").drop("op")
                    else batch
          if (!adds.isEmpty) graft.dedup.GramIndex.append(adds, indexName, spec)
          if (!rms.isEmpty) graft.dedup.GramIndex.retract(rms, indexName, spec)
          adds.agg(countDistinct(col("doc_id")).as("n_append_docs"))
            .crossJoin(rms.agg(countDistinct(col("doc_id")).as("n_retract_docs")))
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
          if (batchId % 8 == 7)
            graft.dedup.GramIndex.compactDelta(batch.sparkSession, indexName, spec)
        } finally batch.unpersist()
      }
    }

  /** Streaming takedown for the VECTOR index — [[takedownSink]]'s
    * sibling on the embedding side: each micro-batch carries vec_ids to
    * remove (ids-ONLY, the honest takedown shape — cells derive from
    * the index via [[graft.sim.VectorIndex.retract]]), a one-row
    * receipt lands `_SUCCESS`-gated, and every `reclaimEvery` batches
    * the sink physically reclaims the affected cell partitions.
    *
    * Idempotency is reader-side by construction: the tombstone dir
    * holds (vec_id, cell) rows that probes DISTINCT before anti-
    * joining, so a crash-replayed batch appending duplicate rows
    * changes nothing; a replayed COMMITTED batch drains and writes
    * nothing; a reclaim replay anti-joins ids that no longer match
    * anything. Single writer per index dir while active (the sink owns
    * reclaim — same contract as the gram sink's compaction). */
  def vectorTakedownSink(indexDir: String, receiptDir: String,
                         reclaimEvery: Int = 8): (DataFrame, Long) => Unit =
    idsTakedownSink(receiptDir, "vec_id", reclaimEvery)(
      ids => graft.sim.VectorIndex.retract(ids.sparkSession, indexDir, ids))(
      s => graft.sim.VectorIndex.reclaim(s, indexDir))

  /** [[vectorTakedownSink]] for the PQ index — identical contract (the
    * PQ tombstone is ids-only BY DESIGN: the index stores codes, not
    * vectors, and reclaim derives cells from the index itself). */
  def pqTakedownSink(indexDir: String, receiptDir: String,
                     reclaimEvery: Int = 8): (DataFrame, Long) => Unit =
    idsTakedownSink(receiptDir, "vec_id", reclaimEvery)(
      ids => graft.sim.PqVectorIndex.retract(ids.sparkSession, indexDir, ids))(
      s => graft.sim.PqVectorIndex.reclaim(s, indexDir))

  /** Streaming takedown for the TEXT (BM25) index: micro-batches of
    * doc_ids tombstone via [[graft.text.TextIndex.retract]] (probes
    * anti-join the pruned buckets AND correct df/N/avgdl from the
    * DISTINCT retracted set — duplicate tombstone rows from a crash
    * replay are harmless by construction). NO periodic maintenance by
    * default: unlike the vector families' reclaim (partition-pruned to
    * affected cells), text/signature compaction rewrites the whole
    * index — cost ∝ corpus, an operator decision, not a per-8-batches
    * reflex. Opt in with `compactEvery` > 0. */
  def textTakedownSink(indexName: String, receiptDir: String,
                       compactEvery: Int = 0,
                       spec: graft.text.TextIndex.Spec = graft.text.TextIndex.Spec())
      : (DataFrame, Long) => Unit =
    idsTakedownSink(receiptDir, "doc_id", compactEvery)(
      ids => graft.text.TextIndex.retract(ids.sparkSession, indexName, ids))(
      s => graft.text.TextIndex.compact(s, indexName, spec))

  /** [[textTakedownSink]] for the SIGNATURE (MinHash/LSH) index — same
    * ids-only tombstone + distinct-on-read idempotency, same
    * whole-index-compaction economics (off by default). */
  def signatureTakedownSink(indexName: String,
                            spec: graft.dedup.SignatureIndex.Spec,
                            receiptDir: String,
                            compactEvery: Int = 0): (DataFrame, Long) => Unit =
    idsTakedownSink(receiptDir, "doc_id", compactEvery)(
      ids => graft.dedup.SignatureIndex.retract(ids.sparkSession, indexName, ids))(
      s => graft.dedup.SignatureIndex.compact(s, indexName, spec))

  /** Shared ids-only takedown plumbing: `_SUCCESS`-gated one-row
    * receipt per batch (committed replays drain and write nothing),
    * family `retract` on the distinct ids, family `maintain` every
    * `maintainEvery` batches (0 = never). Uncommitted replays are safe
    * because every family's tombstone is distinct-on-read. Single
    * writer per index while the sink is active (it may own
    * maintenance — the gram sink's contract). */
  private def idsTakedownSink(receiptDir: String, idCol: String,
                              maintainEvery: Int)
                             (retract: DataFrame => Unit)
                             (maintain: org.apache.spark.sql.SparkSession => Unit)
      : (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, receiptDir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        val ids = df.select(idCol).persist()
        try {
          if (!ids.isEmpty) retract(ids)
          ids.agg(org.apache.spark.sql.functions.countDistinct(
              org.apache.spark.sql.functions.col(idCol)).as("n_retract_ids"))
            .write.mode(SaveMode.Overwrite).parquet(s"$receiptDir/batch=$batchId")
          if (maintainEvery > 0 && batchId % maintainEvery == maintainEvery - 1)
            maintain(df.sparkSession)
        } finally { ids.unpersist(); () }
      }
    }

  /** Streaming maintenance for the STATS index — incremental ANALYZE
    * fed by a stream: each micro-batch carries MELTED per-value rows
    * (stat_key, nv, sv — the caller owns the melt, as in the batch
    * API) plus an `op` column (`append`/`retract`; absent ⇒ all
    * appends), folded via [[graft.ops.StatsIndex.append]]/`retract`
    * with the STREAMING batch id as the index's `batchId`. That is the
    * exactly-once mechanism: segment names are digest(content, batchId)
    * written with Overwrite, so a crash-replayed micro-batch REWRITES
    * its own segments bit-identically instead of double-counting, and
    * two distinct batches with identical melted content (the ADVICE
    * r15 #4 hazard, realistic for low-cardinality columns) get
    * distinct segments because their stream batch ids differ. The
    * `_SUCCESS`-gated receipt only short-circuits the committed-replay
    * recompute; correctness never depends on it. */
  def statsMaintenanceSink(indexName: String,
                           receiptDir: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, receiptDir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        import org.apache.spark.sql.functions.{col, lit, sum, when}
        val batch = df.persist()
        try {
          val hasOp = batch.columns.contains("op")
          val adds = if (hasOp) batch.where(col("op") === "append").drop("op")
                     else batch
          val rms = if (hasOp) batch.where(col("op") === "retract").drop("op")
                    else batch.limit(0)
          if (!adds.isEmpty)
            graft.ops.StatsIndex.append(adds, indexName, s"b$batchId")
          if (!rms.isEmpty)
            graft.ops.StatsIndex.retract(rms, indexName, s"b$batchId")
          batch.agg(
              sum(when(if (hasOp) col("op") === "append" else lit(true), 1L)
                .otherwise(0L)).as("n_append_rows"),
              sum(when(if (hasOp) col("op") === "retract" else lit(false), 1L)
                .otherwise(0L)).as("n_retract_rows"))
            .write.mode(SaveMode.Overwrite).parquet(s"$receiptDir/batch=$batchId")
        } finally { batch.unpersist(); () }
      }
    }

  /** Streaming maintenance for a standing materialized view
    * ([[graft.ops.MvIndex]]) — the MV twin of [[statsMaintenanceSink]]:
    * each micro-batch carries view rows, optionally op-tagged
    * (`op` ∈ append|retract; no column = all appends), and folds into
    * the index as one positive and one negated partial segment whose
    * digests are scoped by the STREAM's batch id — so exactly-once
    * holds even when two distinct micro-batches carry identical
    * content, independent of the receipt. A replayed committed batch
    * drains without writing; a replayed UNcommitted batch rewrites its
    * digest-named segments (Overwrite) — idempotent either way. The
    * per-batch receipt records the fold sizes. Single writer per index
    * (foreachBatch's per-query serialization provides it). */
  def mvMaintenanceSink(indexName: String,
                        receiptDir: String): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, receiptDir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        import org.apache.spark.sql.functions.{col, lit, sum, when}
        val batch = df.persist()
        try {
          val hasOp = batch.columns.contains("op")
          val adds = if (hasOp) batch.where(col("op") === "append").drop("op")
                     else batch
          val rms = if (hasOp) batch.where(col("op") === "retract").drop("op")
                    else batch.limit(0)
          if (!adds.isEmpty)
            graft.ops.MvIndex.append(adds, indexName, s"b$batchId")
          if (!rms.isEmpty)
            graft.ops.MvIndex.retract(rms, indexName, s"b$batchId")
          batch.agg(
              sum(when(if (hasOp) col("op") === "append" else lit(true), 1L)
                .otherwise(0L)).as("n_append_rows"),
              sum(when(if (hasOp) col("op") === "retract" else lit(false), 1L)
                .otherwise(0L)).as("n_retract_rows"))
            .write.mode(SaveMode.Overwrite).parquet(s"$receiptDir/batch=$batchId")
        } finally { batch.unpersist(); () }
      }
    }

  /** Streaming eval-leak attribution — the monitoring form of
    * [[graft.dedup.GramIndex.attributeSources]]: every arriving
    * micro-batch of EVAL documents is attributed against the standing
    * corpus index (which corpus source leaked into each eval doc, how
    * many windows matched, how many hit the breadth cap), and the
    * report lands exactly-once in the `batch=<id>` layout.
    *
    * READ-ONLY on the index, by design — eval docs must never enter
    * the training corpus, so unlike [[spanScrubSink]] there is no
    * append: a replayed batch recomputes the identical report from the
    * identical standing index (per-doc grain, no cross-batch state),
    * and the `_SUCCESS`-gated overwrite makes the landing idempotent
    * either way. The single-writer contract is therefore the CORPUS
    * writer's concern, not this sink's; concurrent minor compaction by
    * that writer is invisible here (readers min-merge segments), and
    * the major-compact rename window self-heals on read.
    *
    * 100 TB shape: per micro-batch, gram cost ∝ batch, index side
    * semi-restricted in its bucket layout (cost ∝ matches, the corpus
    * is never re-shuffled), attribution fan-out breadth-capped. */
  def leakAttributionSink(indexName: String, spec: graft.dedup.GramIndex.Spec,
                          dir: String, maxDocs: Int = 100): (DataFrame, Long) => Unit =
    (df, batchId) => {
      if (batchCommitted(df, dir, batchId)) {
        df.foreach(_ => ()) // replay of a committed batch: drain only
      } else {
        val batch = df.persist()
        // the probe's tracked persists are released INSIDE the batch
        // via the SCOPED release (ADVICE r14 #3): a production stream
        // has no harness release() between micro-batches, and a
        // session-wide release here could yank a concurrent query's
        // frames — scoped releases only what this batch registered
        try graft.ops.TrackedCache.scoped(batch.sparkSession) {
          graft.dedup.GramIndex
            .attributeSources(batch.sparkSession, batch, indexName, spec, maxDocs)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
        } finally batch.unpersist()
      }
    }

  /** Latest committed state written by [[aggStateSink]]. */
  def readAggState(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(fs, root)
    require(vs.nonEmpty, s"no committed state under $dir")
    spark.read.parquet(s"$dir/v=${vs.max}")
  }

  private def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
                                root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => fs.exists(new Path(root, s"v=$v/_SUCCESS")))

  /** The foreachBatch function: `stream.writeStream.foreachBatch(
    * StreamSinks.idempotentParquet(dir)).start()`. Batch directories
    * compose into one readable parquet table partitioned by `batch`. */
  def idempotentParquet(dir: String): (DataFrame, Long) => Unit =
    (df, batchId) =>
      if (!batchCommitted(df, dir, batchId)) {
        // Overwrite, not Append: a HALF-written attempt (no _SUCCESS)
        // must be replaced wholesale on replay, never appended to
        df.write.mode(SaveMode.Overwrite).parquet(s"$dir/batch=$batchId")
      } else {
        // Already landed (crash after sink commit, before checkpoint
        // commit) — skip the WRITE but still drain every partition:
        // stateful operators upstream re-execute on the replayed batch
        // and their state stores only commit when consumed, and Spark's
        // per-batch commit validation fails the restarted query if a
        // foreachBatch returns without processing all partitions
        // (exposed by StreamRecoverySpec's kill/restart proof).
        df.foreach(_ => ())
      }
}
