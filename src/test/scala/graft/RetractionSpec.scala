package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.GramIndex

/** Index retraction ([[GramIndex.retract]]) — takedown without rebuild:
  * stats-served analytics after retraction are pinned row-for-row
  * against a fresh index built WITHOUT the retracted docs; fully-
  * retracted rows vanish; owner-dependent paths refuse loudly; the
  * delta fold stays available and nets identically.
  */
class RetractionSpec extends SparkSpec {
  import spark.implicits._

  private val w = (0 until 12).map(i => s"rw$i") // shared template, 5 windows
  private val u = (0 until 10).map(i => s"ru$i") // second template, 3 windows
  private val spec = GramIndex.Spec(minLen = 8, buckets = 4)

  private def df(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "text", "source")

  // docs 10/20 share w across two sources; 30 alone holds u; 40 holds w
  // in source "c" — retracting 20 and 30 must: drop u entirely (sole
  // holder gone), drop (w, "b")'s row (its only doc gone), keep (w, "a")
  // and (w, "c")
  private val corpus = Seq(
    (10L, w.mkString(" "), "a"),
    (20L, w.mkString(" "), "b"),
    (30L, u.mkString(" "), "a"),
    (40L, w.mkString(" "), "c"))
  private val gone = corpus.filter(r => r._1 == 20L || r._1 == 30L)
  private val kept = corpus.filterNot(r => r._1 == 20L || r._1 == 30L)

  private def statRows(d: DataFrame) =
    d.orderBy("gram", "source").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

  test("retract ≡ rebuild-without-docs for sourceStats / sourceAffinity / attributeSources") {
    GramIndex.write(df(corpus), "ret_a", spec)
    GramIndex.retract(df(gone), "ret_a", spec)
    GramIndex.write(df(kept), "ret_ref", spec)

    val got = statRows(GramIndex.sourceStats(spark, "ret_a")
      .select("gram", "source", "n_docs", "n_occ"))
    got shouldBe statRows(GramIndex.sourceStats(spark, "ret_ref")
      .select("gram", "source", "n_docs", "n_occ"))
    // u's grams (sole holder retracted) are gone; w keeps sources a, c
    got.map(_._2).distinct.sorted shouldBe Seq("a", "c")

    def aff(n: String) = GramIndex.sourceAffinity(spark, n, maxSources = 16)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    aff("ret_a") shouldBe aff("ret_ref")
    aff("ret_a") shouldBe Seq(("a", "c", 5L, 10L, 0L)) // w's 5 templates, 1 occ each side

    val batch = df(Seq((900L, w.mkString(" "), "evals"), (901L, u.mkString(" "), "evals")))
    def attr(n: String) = GramIndex.attributeSources(spark, batch, n, spec)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getLong(3))).toSeq
    attr("ret_a") shouldBe attr("ret_ref")
    // 901 (u, whose only holder was retracted) matches nothing at all
    attr("ret_a").map(_._1) shouldBe Seq(900L)
  }

  test("retraction nets identically across un-folded appends and after compactDelta") {
    GramIndex.write(df(corpus.take(2)), "ret_b", spec)
    GramIndex.append(df(corpus.slice(2, 3)), "ret_b", spec)
    GramIndex.append(df(corpus.drop(3)), "ret_b", spec)
    GramIndex.retract(df(gone), "ret_b", spec)
    GramIndex.write(df(kept), "ret_b_ref", spec)
    val want = statRows(GramIndex.sourceStats(spark, "ret_b_ref")
      .select("gram", "source", "n_docs", "n_occ"))
    statRows(GramIndex.sourceStats(spark, "ret_b")
      .select("gram", "source", "n_docs", "n_occ")) shouldBe want
    // the delta fold stays available with tombstones standing and
    // changes nothing (it folds only _d segments)
    GramIndex.compactDelta(spark, "ret_b", spec)
    statRows(GramIndex.sourceStats(spark, "ret_b")
      .select("gram", "source", "n_docs", "n_occ")) shouldBe want
  }

  test("retract is replay- and overlap-idempotent (digest-named tombstones, ADVICE r14 #1)") {
    GramIndex.write(df(corpus), "ret_i", spec)
    GramIndex.retract(df(gone), "ret_i", spec)
    def stats() = statRows(GramIndex.sourceStats(spark, "ret_i")
      .select("gram", "source", "n_docs", "n_occ"))
    val want = stats()
    // crash REPLAY of the same retract: the digest-named tombstone is
    // rewritten in place — stats must not double-negate (+3-1-1 style)
    GramIndex.retract(df(gone), "ret_i", spec)
    stats() shouldBe want
    def nTombstones = spark.sessionState.catalog
      .listTables("default", "ret_i_grams_t*").map(_.table)
      .count(_.matches("ret_i_grams_t[0-9a-f]+"))
    nTombstones shouldBe 1 // the replay rewrote, not appended
    // OVERLAPPING second takedown: {20, 30} already applied, only 40 is
    // new — the result must equal retracting {20, 30, 40} exactly once
    GramIndex.retract(df(gone ++ corpus.filter(_._1 == 40L)), "ret_i", spec)
    GramIndex.write(df(corpus.filter(_._1 == 10L)), "ret_i_ref", spec)
    stats() shouldBe statRows(GramIndex.sourceStats(spark, "ret_i_ref")
      .select("gram", "source", "n_docs", "n_occ"))
    nTombstones shouldBe 2
    // a retract whose every id was already applied is a clean no-op
    GramIndex.retract(df(gone), "ret_i", spec)
    nTombstones shouldBe 2
  }

  test("owner sidecar: probe/scrub/attribution/compact stay EXACT after retract (VERDICT r14 #6)") {
    val sspec = spec.copy(ownerSidecar = true)
    // retract the OWNER itself (10 owns w) and u's only holder (30):
    // owners must re-derive (w → 20), vanished templates must not probe
    val sGone = corpus.filter(r => r._1 == 10L || r._1 == 30L)
    val sKept = corpus.filterNot(r => r._1 == 10L || r._1 == 30L)
    GramIndex.write(df(corpus), "ret_s", sspec)
    GramIndex.retract(df(sGone), "ret_s", sspec)
    GramIndex.write(df(sKept), "ret_s_ref", sspec)
    val batch = df(Seq((900L, w.mkString(" "), "evals"),
      (901L, u.mkString(" "), "evals")))
    def spans(n: String) = GramIndex.probe(spark, batch, n, sspec)
      .orderBy("doc_id", "span_start").collect().map(_.toSeq).toSeq
    def scrub(n: String) = GramIndex.scrubProbe(spark, batch, n, sspec)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    def attr(n: String) = GramIndex.ownerAttribution(spark, batch, n, sspec)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    spans("ret_s") shouldBe spans("ret_s_ref")
    // u's sole holder is retracted: 901 must NOT match (a stale-owner
    // index would still scrub it — the distinguishing case)
    spans("ret_s").map(_.head) should contain only 900L
    scrub("ret_s") shouldBe scrub("ret_s_ref")
    val a = attr("ret_s")
    a shouldBe attr("ret_s_ref")
    // w's owner re-derived to the surviving minimum, not the retracted 10
    a.collect { case Seq(900L, owner, _, _) => owner } shouldBe Seq(20L)
    // stats-served paths stay exact too, same tombstones
    statRows(GramIndex.sourceStats(spark, "ret_s")
      .select("gram", "source", "n_docs", "n_occ")) shouldBe
      statRows(GramIndex.sourceStats(spark, "ret_s_ref")
        .select("gram", "source", "n_docs", "n_occ"))
    // retract-then-APPEND: u re-enters via doc 50; sidecar coverage
    // keeps every owner path exact (both sides appended)
    val reborn = Seq((50L, u.mkString(" "), "d"))
    GramIndex.append(df(reborn), "ret_s", sspec)
    GramIndex.append(df(reborn), "ret_s_ref", sspec)
    spans("ret_s") shouldBe spans("ret_s_ref")
    spans("ret_s").map(_.head).distinct should contain allOf (900L, 901L)
    attr("ret_s") shouldBe attr("ret_s_ref")
    // compact folds the tombstones away COMPLETELY: fresh base from the
    // surviving sidecar, retracted rows physically gone, takedown
    // tables dropped, everything still exact — full reclamation
    GramIndex.compact(spark, "ret_s", sspec)
    spark.sessionState.catalog.listTables("default", "ret_s_grams_t*")
      .map(_.table).filter(_.matches("ret_s_grams_t(ids_)?[0-9a-f]+")) shouldBe empty
    spark.table("ret_s_grams_docs")
      .where(col("doc_id").isin(10L, 30L)).count() shouldBe 0L
    spans("ret_s") shouldBe spans("ret_s_ref")
    scrub("ret_s") shouldBe scrub("ret_s_ref")
    attr("ret_s") shouldBe attr("ret_s_ref")
    statRows(GramIndex.sourceStats(spark, "ret_s")
      .select("gram", "source", "n_docs", "n_occ")) shouldBe
      statRows(GramIndex.sourceStats(spark, "ret_s_ref")
        .select("gram", "source", "n_docs", "n_occ"))
    graft.ops.TrackedCache.release(spark)
  }

  test("concurrency interleavings: append/retract/compactDelta in every order net exactly (VERDICT r14 #7)") {
    val sspec = spec.copy(ownerSidecar = true)
    // the single-writer contract serializes the steps; what must hold
    // is that every SERIALIZATION of appends, retracts and delta folds
    // nets to the same state — no order bakes a tombstone in twice or
    // folds one away early
    GramIndex.write(df(corpus.take(1)), "ret_x", sspec)   // base: 10
    GramIndex.append(df(corpus.slice(1, 2)), "ret_x", sspec) // +20
    GramIndex.retract(df(corpus.slice(1, 2)), "ret_x", sspec) // -20 (delta still unfolded)
    GramIndex.append(df(corpus.slice(2, 3)), "ret_x", sspec) // +30
    GramIndex.compactDelta(spark, "ret_x", sspec) // folds d-segments, not tombstones
    GramIndex.retract(df(corpus.slice(2, 3)), "ret_x", sspec) // -30 after the fold
    GramIndex.append(df(corpus.drop(3)), "ret_x", sspec)  // +40
    GramIndex.write(df(corpus.take(1) ++ corpus.drop(3)), "ret_x_ref", sspec)
    def stats(n: String) = statRows(GramIndex.sourceStats(spark, n)
      .select("gram", "source", "n_docs", "n_occ"))
    stats("ret_x") shouldBe stats("ret_x_ref")
    val batch = df(Seq((900L, w.mkString(" "), "evals"),
      (901L, u.mkString(" "), "evals")))
    def scrub(n: String) = GramIndex.scrubProbe(spark, batch, n, sspec)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    scrub("ret_x") shouldBe scrub("ret_x_ref")
    // a delta fold AFTER the second retract changes nothing either
    GramIndex.compactDelta(spark, "ret_x", sspec)
    stats("ret_x") shouldBe stats("ret_x_ref")
    scrub("ret_x") shouldBe scrub("ret_x_ref")
    // and the major fold reclaims with both tombstones standing
    GramIndex.compact(spark, "ret_x", sspec)
    stats("ret_x") shouldBe stats("ret_x_ref")
    scrub("ret_x") shouldBe scrub("ret_x_ref")
    graft.ops.TrackedCache.release(spark)
  }

  test("covered tombstones are garbage, not negations; a reused digest retracts fresh (ADVICE r15 #1)") {
    val sspec = spec.copy(ownerSidecar = true)
    GramIndex.write(df(corpus), "ret_g", sspec)
    GramIndex.retract(df(gone), "ret_g", sspec)
    GramIndex.compact(spark, "ret_g", sspec) // folds the tombstone; stamps its digest
    GramIndex.write(df(kept), "ret_g_ref", sspec)
    def stats(n: String) = statRows(GramIndex.sourceStats(spark, n)
      .select("gram", "source", "n_docs", "n_occ"))
    stats("ret_g") shouldBe stats("ret_g_ref")
    // simulate the post-swap crash ADVICE r15 #1 names: the folded
    // tombstone table still stands while the base already excludes the
    // retracted docs — recreate it from the stamp and assert it does
    // NOT double-negate (it is covered garbage, filtered at read)
    val dg = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("ret_g_grams"))
      .properties("graft.coversTombstones").split(",").filter(_.nonEmpty).head
    spark.table("ret_g_grams")
      .select(col("gram"), col("owner"), col("source"),
        (-col("n_docs")).as("n_docs"), (-col("n_occ")).as("n_occ"))
      .write.saveAsTable(s"ret_g_grams_t$dg")
    stats("ret_g") shouldBe stats("ret_g_ref") // no double-negation
    val batch = df(Seq((900L, w.mkString(" "), "evals")))
    GramIndex.probe(spark, batch, "ret_g", sspec).count() should be > 0L
    // digest REUSE: re-append the same docs and take them down again —
    // the same id set reproduces the folded digest; the writer sweeps
    // the covered garbage and the fresh tombstone must be LIVE
    GramIndex.append(df(gone), "ret_g", sspec)
    GramIndex.retract(df(gone), "ret_g", sspec)
    stats("ret_g") shouldBe stats("ret_g_ref")
    graft.ops.TrackedCache.release(spark)
  }

  test("append crash window: a sidecar segment without its delta fabricates no survivors (ADVICE r15 #2)") {
    val sspec = spec.copy(ownerSidecar = true)
    GramIndex.write(df(corpus), "ret_w", sspec)
    GramIndex.retract(df(corpus.filter(_._1 == 30L)), "ret_w", sspec) // u's only holder
    val batch = df(Seq((901L, u.mkString(" "), "evals")))
    GramIndex.probe(spark, batch, "ret_w", sspec).count() shouldBe 0L
    // simulate the crash between append's two writes: a sidecar segment
    // exists whose delta never committed — its phantom doc 77 holds u,
    // and a reader trusting it would resurrect the retracted template
    spark.table("ret_w_grams_docs").where(col("doc_id") === 30L)
      .withColumn("doc_id", lit(77L))
      .write.saveAsTable("ret_w_grams_docs_d99_99")
    GramIndex.probe(spark, batch, "ret_w", sspec).count() shouldBe 0L
    GramIndex.scrubProbe(spark, batch, "ret_w", sspec)
      .where(col("n_removed") > 0).count() shouldBe 0L
    // the delta fold sweeps the orphan as garbage
    GramIndex.compactDelta(spark, "ret_w", sspec)
    spark.catalog.tableExists("ret_w_grams_docs_d99_99") shouldBe false
    GramIndex.probe(spark, batch, "ret_w", sspec).count() shouldBe 0L
    graft.ops.TrackedCache.release(spark)
  }

  test("an unpaired tombstone refuses new takedowns; the exact replay heals it (ADVICE r15 #3)") {
    GramIndex.write(df(corpus), "ret_o", spec)
    GramIndex.retract(df(gone), "ret_o", spec)
    // simulate the crash between retract's two writes: the id list is
    // missing, so the retracted set behind the tombstone is unknown
    val tids = spark.sessionState.catalog
      .listTables("default", "ret_o_grams_tids_*").map(_.table).head
    spark.sql(s"DROP TABLE `$tids`")
    val e = intercept[IllegalArgumentException](
      GramIndex.retract(df(corpus.filter(_._1 == 40L)), "ret_o", spec))
    e.getMessage should include("without a paired id list")
    // the exact replay recomputes the same digest and rewrites both
    GramIndex.retract(df(gone), "ret_o", spec)
    // now healed: the overlapping takedown proceeds and nets exactly
    GramIndex.retract(df(corpus.filter(_._1 == 40L)), "ret_o", spec)
    GramIndex.write(df(corpus.filter(_._1 == 10L)), "ret_o_ref", spec)
    statRows(GramIndex.sourceStats(spark, "ret_o")
      .select("gram", "source", "n_docs", "n_occ")) shouldBe
      statRows(GramIndex.sourceStats(spark, "ret_o_ref")
        .select("gram", "source", "n_docs", "n_occ"))
    graft.ops.TrackedCache.release(spark)
  }

  test("a crash-replayed append inflates stats only until compact re-folds them exactly (ADVICE r15 #2)") {
    val sspec = spec.copy(ownerSidecar = true)
    GramIndex.write(df(corpus.take(2)), "ret_d", sspec)
    GramIndex.append(df(corpus.slice(2, 3)), "ret_d", sspec)
    GramIndex.append(df(corpus.slice(2, 3)), "ret_d", sspec) // the replay
    def stats(n: String) = statRows(GramIndex.sourceStats(spark, n)
      .select("gram", "source", "n_docs", "n_occ"))
    // the documented transient: doc 30's grams double-count pre-fold
    stats("ret_d").filter(_._3 == 2L) should not be empty
    GramIndex.write(df(corpus.take(3)), "ret_d_ref", sspec)
    // compact dedupes the sidecar's (gram, source, doc) grain — the
    // inflation is NOT baked into the fresh base
    GramIndex.compact(spark, "ret_d", sspec)
    stats("ret_d") shouldBe stats("ret_d_ref")
    graft.ops.TrackedCache.release(spark)
  }

  test("owner-dependent paths refuse after retract; rebuild clears tombstones") {
    GramIndex.write(df(corpus), "ret_c", spec)
    GramIndex.retract(df(gone), "ret_c", spec)
    val batch = df(Seq((900L, w.mkString(" "), "evals")))
    val e1 = intercept[IllegalArgumentException](
      GramIndex.probe(spark, batch, "ret_c", spec))
    e1.getMessage should include("unsupported after retract")
    intercept[IllegalArgumentException](
      GramIndex.scrubProbe(spark, batch, "ret_c", spec))
    intercept[IllegalArgumentException](
      GramIndex.ownerAttribution(spark, batch, "ret_c", spec))
    intercept[IllegalArgumentException](
      GramIndex.compact(spark, "ret_c", spec))
    // a rebuild drops the tombstones and re-enables everything
    GramIndex.write(df(kept), "ret_c", spec)
    GramIndex.probe(spark, batch, "ret_c", spec).count() shouldBe 1L
    graft.ops.TrackedCache.release(spark)
  }

  // ---- signature index: per-doc rows make retraction FULLY exact ----

  private def pairRows(d: DataFrame) =
    d.orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("signature index: retract ≡ rebuild-without for probe and selfPairs; compact reclaims") {
    import graft.dedup.{Dedup, SignatureIndex}
    // three near-identical doc families so banding actually collides
    val t1 = (0 until 30).map(i => s"sa$i")
    val docs = df(Seq(
      (1L, t1.mkString(" "), "x"),
      (2L, t1.updated(0, "zz").mkString(" "), "x"),   // near-dup of 1
      (3L, t1.updated(1, "yy").mkString(" "), "x"),   // near-dup of 1, 2
      (4L, (0 until 30).map(i => s"sb$i").mkString(" "), "x")))
    val sigs = Dedup.minhashSignatures(docs, k = 32)
    val sspec = SignatureIndex.Spec(bands = 4, rowsPerBand = 8, buckets = 4)
    val batch = Dedup.minhashSignatures(
      df(Seq((100L, t1.mkString(" "), "x"))), k = 32)

    SignatureIndex.write(sigs, "sret_a", sspec)
    SignatureIndex.retract(spark, "sret_a", Seq(2L).toDF("doc_id"))
    SignatureIndex.write(sigs.where(col("doc_id") =!= 2L), "sret_ref", sspec)

    val got = pairRows(SignatureIndex.probe(spark, batch, "sret_a", sspec, minEst = 0.8))
    got shouldBe pairRows(SignatureIndex.probe(spark, batch, "sret_ref", sspec, minEst = 0.8))
    got.map(_._2) should not contain 2L
    got.map(_._2) should contain(1L) // the kept near-dups still match

    pairRows(SignatureIndex.selfPairs(spark, "sret_a", sspec, minEst = 0.8)) shouldBe
      pairRows(SignatureIndex.selfPairs(spark, "sret_ref", sspec, minEst = 0.8))

    // double-retract of the same id is a no-op (reader distincts)
    SignatureIndex.retract(spark, "sret_a", Seq(2L).toDF("doc_id"))
    pairRows(SignatureIndex.probe(spark, batch, "sret_a", sspec, minEst = 0.8)) shouldBe got

    // compact physically reclaims: side table gone, results unchanged,
    // and the banded table no longer holds the retracted rows at all
    SignatureIndex.compact(spark, "sret_a", sspec)
    spark.catalog.tableExists("sret_a_retracted") shouldBe false
    spark.table("sret_a_banded").where(col("doc_id") === 2L).count() shouldBe 0L
    pairRows(SignatureIndex.probe(spark, batch, "sret_a", sspec, minEst = 0.8)) shouldBe got
    graft.ops.TrackedCache.release(spark)
  }

  // ---- vector index: per-row cells, partition-pruned reclamation ----

  test("vector index: retract ≡ rebuild-without for topK; reclaim rewrites only affected cells") {
    import graft.sim.{IvfIndex, VectorIndex}
    val ivf = new IvfIndex(nCells = 8, nProbe = 3)
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vret").toString
    val goneIds = Seq(10L, 11L, 12L, 13L)
    val gone = e.where(col("vec_id").isin(goneIds: _*))
    VectorIndex.write(e, s"$tmp/a", ivf, cents)
    VectorIndex.write(e.where(!col("vec_id").isin(goneIds: _*)), s"$tmp/ref", ivf, cents)

    val queries = e.where(col("vec_id") < 5)
    def rows(d: String) = VectorIndex.topK(spark, d, queries, 5, ivf)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val before = rows(s"$tmp/a")
    VectorIndex.retract(gone, s"$tmp/a", ivf)
    val after = rows(s"$tmp/a")
    after shouldBe rows(s"$tmp/ref")
    after should not be before // the fixture's near ids actually ranked
    after.map(_._2).intersect(goneIds.toSet) shouldBe empty

    // reclaim: results unchanged, tombstones gone, UNAFFECTED cell
    // directories untouched (partition-pruned rewrite)
    val affected = spark.read.parquet(s"$tmp/a/retracted")
      .select(col("cell").cast("int")).distinct().collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val untouchedCell = (0 until 8).filterNot(affected.contains).head
    val probePath = new org.apache.hadoop.fs.Path(s"$tmp/a/cells/cell=$untouchedCell")
    val mtimeBefore = fs.listStatus(probePath).map(_.getModificationTime).max
    VectorIndex.reclaim(spark, s"$tmp/a")
    rows(s"$tmp/a") shouldBe after
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/retracted")) shouldBe false
    fs.listStatus(probePath).map(_.getModificationTime).max shouldBe mtimeBefore
    // a second reclaim with no tombstones is a no-op
    VectorIndex.reclaim(spark, s"$tmp/a")
    rows(s"$tmp/a") shouldBe after
  }

  test("vector index: ids-ONLY retract ≡ rebuild-without; cells derived from the index (VERDICT r15 #4)") {
    import graft.sim.{IvfIndex, VectorIndex}
    val ivf = new IvfIndex(nCells = 8, nProbe = 3)
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vids").toString
    val goneIds = Seq(10L, 11L, 12L, 13L)
    VectorIndex.write(e, s"$tmp/a", ivf, cents)
    VectorIndex.write(e.where(!col("vec_id").isin(goneIds: _*)), s"$tmp/ref", ivf, cents)
    // the takedown names IDS ONLY — no vectors to re-assign; the
    // recorded cells come from the index, so they CANNOT drift
    import spark.implicits._
    VectorIndex.retract(spark, s"$tmp/a", (goneIds :+ 999999L).toDF("vec_id"))
    val recorded = spark.read.parquet(s"$tmp/a/retracted")
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val indexed = spark.read.parquet(s"$tmp/a/cells")
      .where(col("vec_id").isin(goneIds: _*))
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    goneIds.foreach(id => recorded(id) shouldBe indexed(id))
    recorded(999999L) shouldBe -1 // never indexed: diagnosable no-op
    val queries = e.where(col("vec_id") < 5)
    def rows(d: String) = VectorIndex.topK(spark, d, queries, 5, ivf)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    rows(s"$tmp/a") shouldBe rows(s"$tmp/ref")
    // reclaim stays exact and clears the tombstones, -1 included
    VectorIndex.reclaim(spark, s"$tmp/a")
    rows(s"$tmp/a") shouldBe rows(s"$tmp/ref")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/retracted")) shouldBe false
    spark.read.parquet(s"$tmp/a/cells")
      .where(col("vec_id").isin(goneIds: _*)).count() shouldBe 0L
  }

  test("vector takedown SINK: streamed ids-only retractions ≡ rebuild-without; replay idempotent; periodic reclaim") {
    import graft.sim.{IvfIndex, VectorIndex}
    import graft.streaming.StreamSinks
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ivf = new IvfIndex(nCells = 8, nProbe = 8)
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vsink").toString
    val gone1 = Seq(10L, 11L)
    val gone2 = Seq(12L, 13L)
    VectorIndex.write(e, s"$tmp/a", ivf, cents)
    VectorIndex.write(e.where(!col("vec_id").isin((gone1 ++ gone2): _*)),
      s"$tmp/ref", ivf, cents)
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("vec_id").writeStream
      .foreachBatch(StreamSinks.vectorTakedownSink(s"$tmp/a", s"$tmp/rcpt",
        reclaimEvery = 2))
      .option("checkpointLocation", s"$tmp/_ckpt").start()
    try {
      mem.addData(gone1: _*); q.processAllAvailable()
      mem.addData(gone2: _*); q.processAllAvailable() // batch 1: reclaim fires
    } finally q.stop()
    val queries = e.where(col("vec_id") < 5)
    def rows(d: String) = VectorIndex.topK(spark, d, queries, 5, ivf)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    rows(s"$tmp/a") shouldBe rows(s"$tmp/ref")
    // the periodic reclaim physically removed the rows and cleared the
    // tombstones
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/retracted")) shouldBe false
    spark.read.parquet(s"$tmp/a/cells")
      .where(col("vec_id").isin((gone1 ++ gone2): _*)).count() shouldBe 0L
    // replay of a COMMITTED batch: drain only
    import spark.implicits._
    val marker = new org.apache.hadoop.fs.Path(s"$tmp/rcpt/batch=1/_SUCCESS")
    val mtime = fs.getFileStatus(marker).getModificationTime
    StreamSinks.vectorTakedownSink(s"$tmp/a", s"$tmp/rcpt", 2)(
      gone2.toDF("vec_id"), 1L)
    fs.getFileStatus(marker).getModificationTime shouldBe mtime
    // uncommitted replay (crash after the fold, before the receipt):
    // re-retracting physically-gone ids tombstones nothing that matches
    // — results unchanged, receipts re-land
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/rcpt/batch=0"), true)
    StreamSinks.vectorTakedownSink(s"$tmp/a", s"$tmp/rcpt", 2)(
      gone1.toDF("vec_id"), 0L)
    rows(s"$tmp/a") shouldBe rows(s"$tmp/ref")
    spark.read.parquet(s"$tmp/rcpt/batch=0").collect().head.getLong(0) shouldBe 2L
  }

  test("pq/text/signature takedown SINKs: each family wired over the shared ids-only plumbing") {
    import graft.sim.{IvfIndex, PqIndex, PqVectorIndex}
    import graft.streaming.StreamSinks
    val tmp = java.nio.file.Files.createTempDirectory("graft-sibsink").toString
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // PQ: ids-only batches, reclaimEvery=1 so the sink's maintenance
    // leg (physical reclaim) fires on the very first batch
    val ivf = new IvfIndex(nCells = 8, nProbe = 3)
    val pq = new PqIndex(dim = 64, m = 8, ksub = 16)
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val cb = pq.codebookOf(e)
    val goneV = Seq(10L, 11L, 12L)
    PqVectorIndex.write(e, s"$tmp/pq", ivf, cents, pq, cb)
    PqVectorIndex.write(e.where(!col("vec_id").isin(goneV: _*)),
      s"$tmp/pqref", ivf, cents, pq, cb)
    def pqRows(d: String) = PqVectorIndex
      .topK(spark, d, e.where(col("vec_id") < 5), 5, ivf, pq)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val pqSink = StreamSinks.pqTakedownSink(s"$tmp/pq", s"$tmp/pqrcpt",
      reclaimEvery = 1)
    pqSink(goneV.toDF("vec_id"), 0L)
    pqRows(s"$tmp/pq") shouldBe pqRows(s"$tmp/pqref")
    // reclaim fired inside the batch: tombstones cleared, rows gone
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/pq/retracted")) shouldBe false
    spark.read.parquet(s"$tmp/pq/cells")
      .where(col("vec_id").isin(goneV: _*)).count() shouldBe 0L
    spark.read.parquet(s"$tmp/pqrcpt/batch=0")
      .collect().head.getLong(0) shouldBe 3L
    // committed replay: drain only
    val marker = new org.apache.hadoop.fs.Path(s"$tmp/pqrcpt/batch=0/_SUCCESS")
    val mtime = fs.getFileStatus(marker).getModificationTime
    pqSink(goneV.toDF("vec_id"), 0L)
    fs.getFileStatus(marker).getModificationTime shouldBe mtime

    // TEXT: default compactEvery=0 — tombstone-only (whole-index
    // compaction is an operator decision, not per-batch); the probe's
    // df/N/avgdl corrections make streamed ≡ rebuild-without
    import graft.text.TextIndex
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    TextIndex.write(docs, "sks_text")
    TextIndex.write(docs.where(col("doc_id") % 5 =!= 2), "sks_text_ref")
    StreamSinks.textTakedownSink("sks_text", s"$tmp/trcpt")(
      docs.where(col("doc_id") % 5 === 2).select("doc_id"), 0L)
    def bm25(n: String) = TextIndex
      .probe(spark, n, Seq("join", "stream", "vector"), 500)
      .collect().map(_.toSeq).toSeq
    bm25("sks_text") shouldBe bm25("sks_text_ref")
    spark.catalog.tableExists("sks_text_retracted") shouldBe true

    // SIGNATURE: compactEvery=1 — the sink's maintenance leg compacts
    // (physically reclaims, drops the side table) in the same batch
    import graft.dedup.{Dedup, SignatureIndex}
    val t1 = (0 until 30).map(i => s"ks$i")
    val sdocs = df(Seq(
      (1L, t1.mkString(" "), "x"),
      (2L, t1.updated(0, "zz").mkString(" "), "x"),
      (3L, t1.updated(1, "yy").mkString(" "), "x"),
      (4L, (0 until 30).map(i => s"kt$i").mkString(" "), "x")))
    val sigs = Dedup.minhashSignatures(sdocs, k = 32)
    val sspec = SignatureIndex.Spec(bands = 4, rowsPerBand = 8, buckets = 4)
    SignatureIndex.write(sigs, "sks_sig", sspec)
    SignatureIndex.write(sigs.where(col("doc_id") =!= 2L), "sks_sig_ref", sspec)
    StreamSinks.signatureTakedownSink("sks_sig", sspec, s"$tmp/srcpt",
      compactEvery = 1)(Seq(2L).toDF("doc_id"), 0L)
    val batch = Dedup.minhashSignatures(
      df(Seq((100L, t1.mkString(" "), "x"))), k = 32)
    pairRows(SignatureIndex.probe(spark, batch, "sks_sig", sspec, minEst = 0.8)) shouldBe
      pairRows(SignatureIndex.probe(spark, batch, "sks_sig_ref", sspec, minEst = 0.8))
    spark.catalog.tableExists("sks_sig_retracted") shouldBe false
    spark.table("sks_sig_banded").where(col("doc_id") === 2L).count() shouldBe 0L
    graft.ops.TrackedCache.release(spark)
  }

  test("vector index: reclaim is exact even when the retract-time vectors DRIFTED (ADVICE r14 #2)") {
    import graft.sim.{IvfIndex, VectorIndex}
    val ivf = new IvfIndex(nCells = 8, nProbe = 8) // probe all: any survivor WOULD surface
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val tmp = java.nio.file.Files.createTempDirectory("graft-vdrift").toString
    VectorIndex.write(e, tmp, ivf, cents)
    // the takedown arrives with the RIGHT ids but the WRONG vectors
    // (e.g. re-normalized embeddings): borrow other rows' embeddings so
    // the recomputed assignment lands in different cells than indexed
    val goneIds = Seq(10L, 11L, 12L, 13L)
    val drifted = e.where(col("vec_id").isin(400L, 401L, 402L, 403L))
      .withColumn("vec_id", col("vec_id") - 390L) // 10..13, foreign embeddings
    VectorIndex.retract(drifted, tmp, ivf)
    // the scenario is real only if the recorded assignment actually
    // disagrees with where the ids live in the index
    val recorded = spark.read.parquet(s"$tmp/retracted")
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val indexed = spark.read.parquet(s"$tmp/cells")
      .where(col("vec_id").isin(goneIds: _*))
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    recorded should not equal indexed
    // pre-reclaim: anti-join is on vec_id over the whole scan — exact
    val queries = e.where(col("vec_id") < 5)
    def neighbors() = VectorIndex.topK(spark, tmp, queries, 5, ivf)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    neighbors().intersect(goneIds.toSet) shouldBe empty
    // reclaim derives affected cells from the INDEX, not the recorded
    // (drifted, wrong) assignment — the retracted rows must be
    // physically gone and must NOT resurface after the tombstones clear
    VectorIndex.reclaim(spark, tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/retracted")) shouldBe false
    spark.read.parquet(s"$tmp/cells")
      .where(col("vec_id").isin(goneIds: _*)).count() shouldBe 0L
    neighbors().intersect(goneIds.toSet) shouldBe empty
  }

  // ---- PQ index: ids-only tombstones, affected cells from the index ----

  test("pq index: retract ≡ rebuild-without for topK; reclaim rewrites only affected cells") {
    import graft.sim.{IvfIndex, PqIndex, PqVectorIndex}
    val ivf = new IvfIndex(nCells = 8, nProbe = 3)
    val pq = new PqIndex(dim = 64, m = 8, ksub = 16)
    val e = Tables.embeddings(spark, sf0001)
    val cents = ivf.centroidsOf(e)
    val cb = pq.codebookOf(e)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqret").toString
    PqVectorIndex.write(e, s"$tmp/a", ivf, cents, pq, cb)

    val queries = e.where(col("vec_id") < 5)
    def rows(d: String) = PqVectorIndex.topK(spark, d, queries, 5, ivf, pq)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val before = rows(s"$tmp/a")
    // take down ids that actually RANK, so the takedown provably bites
    val goneIds = before.map(_._2).toSeq.sorted.take(4)
    PqVectorIndex.write(e.where(!col("vec_id").isin(goneIds: _*)),
      s"$tmp/ref", ivf, cents, pq, cb)
    // the tombstone names IDS ONLY — the index stores codes, a takedown
    // has no raw vectors to hand back
    import spark.implicits._
    PqVectorIndex.retract(spark, s"$tmp/a", goneIds.toDF("vec_id"))
    val after = rows(s"$tmp/a")
    after shouldBe rows(s"$tmp/ref")
    after should not be before
    after.map(_._2).intersect(goneIds.toSet) shouldBe empty
    // double-retract of the same ids is a no-op (reader distincts)
    PqVectorIndex.retract(spark, s"$tmp/a", goneIds.toDF("vec_id"))
    rows(s"$tmp/a") shouldBe after

    // reclaim: affected cells derived from the index; untouched cell
    // dirs are never rewritten (mtime-pinned), retracted codes are
    // physically gone, tombstones cleared
    val affected = spark.read.parquet(s"$tmp/a/cells")
      .where(col("vec_id").isin(goneIds: _*))
      .select(col("cell").cast("int")).distinct().collect().map(_.getInt(0)).toSet
    affected should not be empty
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val untouchedCell = (0 until 8).filterNot(affected.contains).head
    val probePath = new org.apache.hadoop.fs.Path(s"$tmp/a/cells/cell=$untouchedCell")
    val mtimeBefore = fs.listStatus(probePath).map(_.getModificationTime).max
    PqVectorIndex.reclaim(spark, s"$tmp/a")
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/retracted")) shouldBe false
    fs.listStatus(probePath).map(_.getModificationTime).max shouldBe mtimeBefore
    spark.read.parquet(s"$tmp/a/cells")
      .where(col("vec_id").isin(goneIds: _*)).count() shouldBe 0L
    rows(s"$tmp/a") shouldBe after
    // retracting ids that never lived in the index: reclaim is a clean
    // no-op that still clears the tombstones
    PqVectorIndex.retract(spark, s"$tmp/a", Seq(999999L).toDF("vec_id"))
    PqVectorIndex.reclaim(spark, s"$tmp/a")
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/retracted")) shouldBe false
    rows(s"$tmp/a") shouldBe after
    // a rebuild clears standing takedowns (stale tombstones must not
    // anti-join fresh data)
    PqVectorIndex.retract(spark, s"$tmp/a", goneIds.toDF("vec_id"))
    PqVectorIndex.write(e, s"$tmp/a", ivf, cents, pq, cb)
    rows(s"$tmp/a") shouldBe before
    // WHOLE-CELL takedown: reclaim deletes the emptied cell dir
    // manually (dynamic overwrite writes nothing for it) and must also
    // refresh the session's file-status cache — without that, the next
    // read in the same session throws FILE_NOT_EXIST on the dead
    // listings (the fresh-listing read below pins the refresh)
    val cellsNow = spark.read.parquet(s"$tmp/a/cells")
    val victim = cellsNow.groupBy("cell").count().orderBy(col("count"), col("cell"))
      .select(col("cell").cast("int")).head().getInt(0)
    // collected before reclaim: a frame over the old listing would read dead files
    val victimIds = cellsNow.where(col("cell") === victim).select(col("vec_id")).as[Long].collect()
    PqVectorIndex.retract(spark, s"$tmp/a",
      cellsNow.where(col("cell") === victim).select("vec_id"))
    PqVectorIndex.reclaim(spark, s"$tmp/a")
    fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/a/cells/cell=$victim")) shouldBe false
    spark.read.parquet(s"$tmp/a/cells")
      .where(col("cell") === victim).count() shouldBe 0L // fresh listing, no throw
    rows(s"$tmp/a") should not be empty
    PqVectorIndex.write(e.where(!col("vec_id").isin(victimIds: _*)), s"$tmp/ref_cell", ivf, cents, pq, cb)
    rows(s"$tmp/a") shouldBe rows(s"$tmp/ref_cell")
  }
}
