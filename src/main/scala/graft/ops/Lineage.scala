package graft.ops

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame

/** Lineage truncation with a selectable durability/speed trade — the
  * one knob the iterative operators (union-find label propagation in
  * [[graft.dedup.Dedup.nearDupClusters]], MMR re-ranking in
  * [[graft.sim.Mmr]], the q183 community pipeline) need to run both
  * fast locally and safely on a 1000-executor cluster.
  *
  * Why cut at all: an iterative plan that references its previous
  * round R times grows ~Rⁿ analyzer nodes; after a handful of rounds
  * the OPTIMIZER, not the data, is the bottleneck (Mmr measured 8
  * rounds that never finished planning). A checkpoint leaf makes each
  * round plan against materialized data.
  *
  * Modes (`spark.graft.lineage.cut`):
  *  - `"local"` (default): `localCheckpoint` — materializes to
  *    executor block storage. Fastest (no replication, no FS), but the
  *    blocks are NON-REPLAYABLE: losing an executor mid-computation
  *    fails the job. The right default for `local[n]` where executor
  *    loss means JVM death anyway.
  *  - `"reliable"`: RDD `checkpoint()` to the Spark checkpoint
  *    directory (HDFS/object store on a real cluster) — survives
  *    executor loss; the 100 TB setting for hour-long union-find jobs
  *    where a single lost container must not kill the run. If no
  *    checkpoint dir was configured, one is created under
  *    `java.io.tmpdir` WITH A LOGGED WARNING: a local tmp dir defeats
  *    the executor-loss durability this mode exists for on a real
  *    cluster — deployments must call `sparkContext.setCheckpointDir`
  *    on durable storage.
  *
  * Checkpoint-file hygiene (ADVICE r9, reworked per ADVICE r10): Spark
  * only deletes checkpoint files itself when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` was set at
  * CONTEXT CREATION, so an hour-long union-find loop would otherwise
  * accumulate one full copy of the labels frame per round. Pruning is
  * therefore tracked per CUT-CHAIN: an iterative loop names its own
  * chain ([[newChain]] per invocation) and each `cut(df, chain)`
  * deletes that chain's previous checkpoint once the new one has
  * materialized — the chain contract being `var x = ...;
  * x = cut(step(x), chain)`, where round r's input is fully consumed
  * when round r's cut returns. Chains never prune each other, so
  * multi-frame operators (BFS's frontier + visited) and concurrent or
  * back-to-back loops are safe by construction; `endChain` closes the
  * bookkeeping and optionally deletes a final INTERMEDIATE checkpoint.
  * Chainless `cut(df)` is untracked: never prunes, never pruned — the
  * only safe default for a one-shot checkpoint whose data stays live
  * with the returned frame.
  *
  * Both modes materialize eagerly and preserve values exactly
  * (LineageSpec pins equality); only failure-recovery semantics and
  * speed differ. Parquet-grain, driver-restart-surviving resumability
  * is a different contract — that is [[graft.ref.Checkpoints]].
  */
object Lineage extends Logging {

  val ConfKey = "spark.graft.lineage.cut"

  /** Previous reliable-checkpoint dir, keyed per (session, chain).
    *
    * Per-CHAIN tracking (ADVICE r10): pruning used to be one slot per
    * session, which assumed exactly one live cut-chain — an operator
    * interleaving TWO chains (BFS cuts `next` and `visited`
    * alternately) had each chain's cut deleting the OTHER chain's
    * still-referenced checkpoint, so reliable-mode round 2+ read
    * deleted files. Each logical `var x = ...; x = cut(step(x))` loop
    * now names its own chain; cuts only ever prune their own chain's
    * predecessor, whose data the contract guarantees is consumed. */
  private val lastCheckpoint =
    new java.util.concurrent.ConcurrentHashMap[(SessionRef, String), String]()

  /** Sentinel for one-shot cuts outside any loop: UNTRACKED — never
    * prunes and is never pruned, because a one-shot checkpoint's data
    * is live for as long as the caller holds the frame (the r10 bug
    * class: anything that deletes a dir it cannot prove consumed).
    * Iterative loops opt into pruning with a [[newChain]] name. */
  val DefaultChain = "default"

  private val chainIds = new java.util.concurrent.atomic.AtomicLong()

  /** A process-unique chain name — one per iterative-operator
    * INVOCATION, so loops never prune each other's checkpoints (and
    * concurrent runs of the same operator in one session are safe). */
  def newChain(prefix: String): String = s"$prefix-${chainIds.incrementAndGet()}"

  /** Truncate `df`'s lineage per the session's configured mode.
    *
    * @param chain cut-chain name: consecutive `cut`s on one chain form
    *              one `x = cut(step(x))` loop, and in reliable mode
    *              each cut deletes the SAME chain's
    *              previous checkpoint once the new one materializes.
    *              An operator with several live frames (BFS: frontier
    *              + visited) must use one chain per frame. */
  def cut(df: DataFrame, chain: String = DefaultChain): DataFrame =
    df.sparkSession.conf.get(ConfKey, "local") match {
      case "reliable" =>
        val session = df.sparkSession
        val sc = session.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
          logWarning(s"Lineage 'reliable' mode: no checkpoint dir configured; " +
            s"falling back to LOCAL tmp dir $tmp — this does NOT survive " +
            "executor loss on a cluster; setCheckpointDir to durable storage")
          sc.setCheckpointDir(tmp)
        }
        val out = df.checkpoint(eager = true)
        // evict bookkeeping of stopped sessions (entry count is one per
        // live chain — the scan is trivial; dirs die with the session's
        // checkpoint root, only the map entry and session ref leak)
        val it = lastCheckpoint.keySet().iterator()
        while (it.hasNext) if (it.next()._1.stopped) it.remove()
        if (chain != DefaultChain) {
          // the checkpointed frame is a LogicalRDD over the RDD that
          // carries the checkpoint data — ask it where it wrote
          val newDir = out.queryExecution.analyzed match {
            case l: org.apache.spark.sql.execution.LogicalRDD =>
              l.rdd.getCheckpointFile
            case _ => None
          }
          newDir.foreach { dir =>
            val prev = lastCheckpoint.put((new SessionRef(session), chain), dir)
            if (prev != null && prev != dir) deleteDir(sc, prev)
          }
        }
        out
      case _ => df.localCheckpoint(eager = true)
    }

  /** End a cut-chain: drop its bookkeeping entry and, when the chain's
    * final frame is an INTERMEDIATE the caller no longer needs
    * (`deleteLast = true`), delete its checkpoint directory too. A
    * chain whose final frame is RETURNED to the caller must pass
    * `deleteLast = false` — that one directory lives until the caller
    * is done with the frame (session teardown cleans the checkpoint
    * root). No-op in local mode / when the chain never cut. */
  def endChain(session: org.apache.spark.sql.SparkSession, chain: String,
               deleteLast: Boolean): Unit = {
    val prev = lastCheckpoint.remove((new SessionRef(session), chain))
    if (prev != null && deleteLast) deleteDir(session.sparkContext, prev)
  }

  private def deleteDir(sc: org.apache.spark.SparkContext, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    catch { case e: java.io.IOException =>
      logWarning(s"could not prune superseded checkpoint $dir: $e")
    }
  }
}
