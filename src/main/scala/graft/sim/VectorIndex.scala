package graft.sim

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A STANDING IVF vector index on disk — the serving shape of
  * [[IvfIndex]]: the corpus is materialized once, partitioned by its
  * nearest-centroid cell, next to a (cell, centroid) side table that
  * makes the index self-contained.
  *
  * The probe join (cell-partitioned corpus ⨝ broadcast query probes)
  * then prunes corpus partitions at RUNTIME via dynamic partition
  * pruning: only the nProbe cells any query asked for are read. At
  * 100 TB that is the difference between scanning nProbe/nCells of
  * the corpus and scanning all of it on every query batch — and the
  * assignment cost (the nCells cosines per corpus row) is paid once
  * at write time, not per query.
  *
  * Appending newly embedded vectors is a partitioned append: new files
  * land inside their cell directories; standing data is not rewritten.
  */
object VectorIndex {

  private def cellsDir(dir: String) = s"$dir/cells"
  private def centroidsDir(dir: String) = s"$dir/centroids"
  private[sim] def retractedDir(dir: String) = s"$dir/retracted"

  private[sim] def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** A rebuild clears standing takedowns — stale tombstones must not
    * anti-join fresh data (the SignatureIndex.write(Overwrite)
    * contract, shared by [[PqVectorIndex.write]]). */
  private[sim] def clearRetracted(spark: SparkSession, dir: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(retractedDir(dir))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Materialize (or replace) the index: assign every corpus vector to
    * its cell (one narrow literal-centroid projection — see
    * [[IvfIndex.assignWith]]) and write partitioned by cell. */
  def write(corpus: DataFrame, dir: String, index: IvfIndex,
            cents: Array[(Int, Array[Float])],
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = corpus.sparkSession
    if (mode == SaveMode.Overwrite) clearRetracted(spark, dir)
    index.assignWith(corpus, cents)
      .write.mode(mode).partitionBy("cell").parquet(cellsDir(dir))
    import spark.implicits._
    cents.toSeq.toDF("cell", "centroid")
      .write.mode(mode).parquet(centroidsDir(dir))
  }

  /** Add vectors to a standing index (same quantizer!) — partitioned
    * append, no rewrite of standing cells. */
  def append(corpus: DataFrame, dir: String, index: IvfIndex): Unit = {
    val cents = readCentroids(corpus.sparkSession, dir)
    index.assignWith(corpus, cents)
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(cellsDir(dir))
  }

  /** Takedown without rebuild, third standing-index family — and like
    * [[graft.dedup.SignatureIndex.retract]] (per-row layout), FULLY
    * exact for every operation, unlike the gram index's stats-only
    * contract. The caller passes the VECTORS being taken down (a
    * takedown names its targets): re-assigning them recovers their
    * cells, so the tombstone carries (vec_id, cell) and [[reclaim]]
    * later rewrites ONLY the affected cell partitions — O(affected
    * cells), never the index. Until reclamation, [[topK]] anti-joins
    * the (small, broadcast) id list out of the cell scan — zero cost
    * before the first retraction (no tombstone dir → pass-through,
    * existing plan-pinned specs unchanged), and the dynamic partition
    * pruning on `cell` is untouched (the filter is on vec_id).
    * Crash-replay idempotent: duplicate tombstone rows distinct away;
    * a re-run reclaim anti-joins ids that no longer match anything.
    *
    * The recorded cell is ADVISORY: [[reclaim]] re-derives the affected
    * cells from the index itself (ADVICE r14 #2 — a caller whose
    * vectors drifted from what was indexed, e.g. re-normalized
    * embeddings, would record the WRONG cell, and a reclaim trusting it
    * would rewrite the wrong partition and let the taken-down vector
    * silently resurface after the tombstones clear — the worst failure
    * mode for a takedown path). */
  def retract(vectors: DataFrame, dir: String, index: IvfIndex): Unit = {
    val cents = readCentroids(vectors.sparkSession, dir)
    index.assignWith(vectors, cents).select(col("vec_id"), col("cell").cast("int"))
      .write.mode(SaveMode.Append).parquet(retractedDir(dir))
  }

  /** Ids-ONLY takedown (VERDICT r15 #4) — the truth of takedowns is
    * that the caller has ids, not vectors ([[PqVectorIndex.retract]]'s
    * contract; "the index stores codes, not vectors, and a takedown
    * typically has neither"). The recorded cells are derived from the
    * INDEX itself — one narrow (vec_id, cell) scan, the
    * [[affectedCells]] pass paid at retract instead of reclaim — so
    * they can never drift from where the ids actually live, and the
    * drifted-vector hazard is moot by construction. Ids that never
    * lived in the index tombstone under cell -1 (diagnosable, matches
    * nothing, reclaims as a no-op). The vectors-supplied overload
    * above stays as the scan-free fast path. */
  def retract(spark: SparkSession, dir: String, vecIds: DataFrame): Unit = {
    val ids = vecIds.select(col("vec_id")).distinct()
    val located = spark.read.parquet(cellsDir(dir))
      .join(graft.ops.Hints.guardedBroadcast(ids), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val missing = ids.join(
        graft.ops.Hints.guardedBroadcast(located.select("vec_id")),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), lit(-1).as("cell"))
    located.unionByName(missing)
      .write.mode(SaveMode.Append).parquet(retractedDir(dir))
  }

  private def notRetracted(spark: SparkSession, dir: String,
                           cells: DataFrame): DataFrame =
    if (!pathExists(spark, retractedDir(dir))) cells
    else cells.join(
      graft.ops.Hints.guardedBroadcast(
        spark.read.parquet(retractedDir(dir)).select("vec_id").distinct()),
      Seq("vec_id"), "left_anti")

  /** Where the retracted ids ACTUALLY live, asked of the index itself —
    * the ground truth [[reclaim]] rewrites from. One (vec_id, cell)
    * scan of the cell table: vec_id is the only data column read, cell
    * comes from the directory layout, so the pass reads a few bytes per
    * row of an index whose bytes are dominated by the payload column —
    * paid at RECLAIM (a rare maintenance step), never at probe. By
    * construction every live row holding a retracted id is in an
    * affected cell, so the resurface hazard cannot occur. */
  private def affectedCells(spark: SparkSession, dir: String,
                            cellsPath: String): Array[Int] =
    spark.read.parquet(cellsPath)
      .join(graft.ops.Hints.guardedBroadcast(
        spark.read.parquet(retractedDir(dir)).select("vec_id").distinct()),
        Seq("vec_id"), "left_semi")
      .select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)) // ≤ nCells ints, driver-held by design

  /** Physically drop retracted rows — partition-pruned to the affected
    * cells (derived from the index, see [[affectedCells]]): each is
    * rewritten without the ids (dynamic partition overwrite), cells
    * emptied entirely are deleted, untouched cells are never read or
    * written in the rewrite, and the tombstone dir is cleared last (a
    * crash before that leaves a no-op re-run). */
  def reclaim(spark: SparkSession, dir: String): Unit = {
    if (!pathExists(spark, retractedDir(dir))) return
    val affected = affectedCells(spark, dir, cellsDir(dir))
    if (affected.isEmpty) { // nothing lives under these ids — tombstones clear
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(retractedDir(dir)), true)
      return
    }
    val kept = notRetracted(spark, dir,
      spark.read.parquet(cellsDir(dir)).where(col("cell").isin(affected.map(Integer.valueOf): _*)))
      .persist()
    val keptCells = kept.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try kept.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(cellsDir(dir))
    finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      kept.unpersist()
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dynamic overwrite replaces only partitions PRESENT in the output:
    // a cell whose every row was retracted writes nothing — delete it
    affected.filterNot(keptCells).foreach(c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${cellsDir(dir)}/cell=$c"), true))
    fs.delete(new org.apache.hadoop.fs.Path(retractedDir(dir)), true)
    // the manual dir deletes above bypass the datasource writer, so the
    // session's shared FileStatusCache still lists the dead files — the
    // NEXT topK in the same session would throw FILE_NOT_EXIST (pinned
    // by RetractionSpec's whole-cell takedown). Writers that go
    // through the datasource invalidate this themselves; manual deletes
    // must do it explicitly.
    spark.catalog.refreshByPath(cellsDir(dir))
  }

  /** Lifecycle: after N appends each cell holds N small files; rewrite
    * every cell partition to ~target-sized files. The layout (and so
    * the probe plan, incl. dynamic partition pruning) is unchanged —
    * IndexLifecycleSpec pins plan + results pre/post. Run in the
    * index's maintenance window (single writer, no concurrent reads
    * during a leaf swap). */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): graft.ops.Maintenance.CompactionStats =
    graft.ops.Maintenance.compactPartitioned(spark, cellsDir(dir), targetBytes)

  /** The fitted quantizer back off disk — kilobytes, driver-side. */
  def readCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Float])] =
    spark.read.parquet(centroidsDir(dir))
      .select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Top-k ANN against the standing index — identical contract to
    * [[IvfIndex.annTopK]], but the corpus side is the partitioned
    * table and the probe join dynamically prunes its cells. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
           index: IvfIndex): DataFrame = {
    val cents = readCentroids(spark, dir)
    val cells = notRetracted(spark, dir, spark.read.parquet(cellsDir(dir)))
    index.searchAssigned(cells, queries, k, cents)
  }
}
