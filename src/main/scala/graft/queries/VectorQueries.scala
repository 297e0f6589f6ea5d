package graft.queries

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sim.{RandomHyperplaneLsh, VectorFunctions}

/** Embedding-similarity extension queries over the `embeddings` fixture
  * (driver mandate; SURVEY.md §2.11). The cosine arithmetic is a
  * sequential double fold on both engines, so the brute-force queries
  * are oracled exactly; the LSH/ANN path (Spark-hash-dependent) is
  * rows-only.
  */
object VectorQueries {
  import ParityQueries.{Q, SortedOutOps}

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  private val duckCos =
    """list_sum(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      | / (sqrt(list_sum(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |   * sqrt(list_sum(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  // ------------------------------------------ brute-force cosine top-k
  /** Top-5 cosine neighbors for the 10 lowest query ids: broadcast
    * nested-loop score + per-query top-k window. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    VectorFunctions.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .sortedOut("query_id", "rank")
  }

  private val q32Sql = {
    val cos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        $cos AS cos,
       |        row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       | WHERE q.vec_id < 10)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------- cosine near-dup (adjacent)
  /** Embedding-cosine near-dup check over adjacent ids — pins the
    * cosine arithmetic and the near-dup thresholding to the oracle. */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val a = emb(s, d).select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb(s, d).select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_b") === col("vec_a") + 1)
      .select(col("vec_a"), col("vec_b"),
        VectorFunctions.cosine(col("ea"), col("eb")).as("cos"))
      .withColumn("near_dup", col("cos") > 0.8)
      .sortedOutWide("vec_a")
  }

  private val q33Sql = {
    val cos = duckCos.format("a.embedding", "b.embedding", "a.embedding", "b.embedding")
    s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cos AS cos, ($cos > 0.8) AS near_dup
       |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |ORDER BY vec_a""".stripMargin
  }

  // --------------------------------------------------- LSH-bucketed ANN
  // 4 planes → 16 buckets: sized to the fixture corpus (hundreds of
  // vectors) so buckets hold enough candidates; at real scale raise
  // planes so bucket size ≈ corpus/2^planes stays in the thousands.
  private val q34Lsh = new RandomHyperplaneLsh(dim = 64, planes = 4)

  private def q34(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    q34Lsh.annTopK(e, e.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"), col("bucket"))
      .sortedOut("query_id", "rank")
  }

  /** The hyperplanes are deterministic Scala constants — embed them as
    * SQL literals so DuckDB reproduces the exact bucketing, then the
    * same within-bucket cosine top-k. */
  private val q34Sql = {
    val bucketExpr = (c: String) => q34Lsh.hyperplanes.zipWithIndex.map { case (h, p) =>
      val lits = h.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"""(CASE WHEN list_sum(list_transform(list_zip($c, $lits),
         |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
         |  THEN ${1 << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
    val cos =
      """(list_sum(list_transform(list_zip(q.q_emb, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        | / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
       |queries AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, ${bucketExpr("embedding")} AS bucket
       |  FROM embeddings WHERE vec_id < 10)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos, CAST(bucket AS INTEGER) AS bucket FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, q.bucket, $cos AS cos,
       |         row_number() OVER (PARTITION BY q.query_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM queries q JOIN corpus c ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------- label centroids (embedding agg)
  /** Per-label mean embedding via element-wise array aggregation —
    * the "embedding column as first-class data" operation. Oracled by
    * unnesting with ordinality. Sums are per-dimension decimal to stay
    * order-independent. */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
    // Double sums are order-dependent, and float→decimal rounding ties
    // differ between engines (HALF_UP vs HALF_EVEN on floats whose
    // binary expansion terminates at the rounding digit). The portable
    // exact form: collect the group, sort, sequential double fold —
    // deterministic on any partitioning and bit-identical across
    // engines. Group sizes here are per-(label,dimension), i.e. bounded
    // by corpus/|labels|, so the collected array stays small.
    e.groupBy("label", "pos")
      .agg(sort_array(collect_list(col("x").cast(DoubleType))).as("xs"),
           count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        aggregate(col("xs"), lit(0.0), (acc, v) => acc + v).as("sum_x"),
        col("n"))
      .sortedOut("label", "pos")
  }

  private val q35Sql =
    """SELECT label, CAST(u.pos - 1 AS INTEGER) AS pos,
      | list_sum(list_sort(list(CAST(u.x AS DOUBLE)))) AS sum_x, count(*) AS n
      |FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos FROM embeddings) u
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ------------------------------- embedding-cosine near-dup pairs
  // The vector member of the dedup family: multi-table hyperplane LSH
  // (8 tables × 4 planes — the recall knob for moderate-cosine pairs)
  // generates candidates, exact cosine verifies. Deterministic end to
  // end, so the oracle replays the identical buckets from the same
  // hyperplane literals and the result matches exactly.
  // Pair-level near-dup output (tiny) keeps the single-pass sortedOut so the
  // one-exchange LSH pair kernel is executed once (PlanShapeSpec pin).
  private def q58(s: SparkSession, d: String): DataFrame =
    VectorFunctions.cosineNearDupPairs(emb(s, d), dim = 64, minCos = 0.45)
      .sortedOut("vec_a", "vec_b")

  private val q58Sql = {
    def bucketExpr(l: RandomHyperplaneLsh, c: String): String =
      l.hyperplanes.zipWithIndex.map { case (h, p) =>
        val lits = h.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"""(CASE WHEN list_sum(list_transform(list_zip($c, $lits),
           |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
           |  THEN ${1 << p} ELSE 0 END)""".stripMargin
      }.mkString("(", " + ", ")")
    val lshs = (0 until 8).map(t => new RandomHyperplaneLsh(64, 4, 42L + t))
    val refine = new RandomHyperplaneLsh(64, 16, 42L + 7777)
    val bandedSql = lshs.zipWithIndex.map { case (l, t) =>
      s"SELECT vec_id, $t AS tbl, ${bucketExpr(l, "embedding")} AS bucket, " +
        s"${bucketExpr(refine, "embedding")} AS sub FROM embeddings"
    }.mkString("\nUNION ALL\n")
    val cos =
      """(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        | / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH banded AS (
       |$bandedSql),
       |sized AS (SELECT tbl, bucket, count(*) AS n FROM banded GROUP BY tbl, bucket),
       |small AS (SELECT tbl, bucket FROM sized WHERE n <= 1000),
       |safe AS (SELECT banded.* FROM banded JOIN small USING (tbl, bucket)),
       |hot AS (SELECT banded.* FROM banded JOIN sized USING (tbl, bucket) WHERE sized.n > 1000),
       |sized2 AS (SELECT tbl, bucket, sub, count(*) AS n, min(vec_id) AS anchor
       |           FROM hot GROUP BY tbl, bucket, sub),
       |safe2 AS (SELECT hot.* FROM hot JOIN sized2 USING (tbl, bucket, sub) WHERE sized2.n <= 1000),
       |pairs AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |    FROM safe x JOIN safe y USING (tbl, bucket) WHERE x.vec_id < y.vec_id
       |    UNION ALL
       |    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |    FROM safe2 x JOIN safe2 y USING (tbl, bucket, sub) WHERE x.vec_id < y.vec_id
       |    UNION ALL
       |    SELECT sized2.anchor AS vec_a, hot.vec_id AS vec_b
       |    FROM hot JOIN sized2 USING (tbl, bucket, sub)
       |    WHERE sized2.n > 1000 AND hot.vec_id != sized2.anchor))
       |SELECT vec_a, vec_b, $cos AS cos
       |FROM pairs JOIN embeddings a ON a.vec_id = vec_a JOIN embeddings b ON b.vec_id = vec_b
       |WHERE NOT isnan($cos) AND $cos >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------- product quantization (q78)
  /** PQ-compressed ANN ([[graft.sim.PqIndex]]): 8 subspaces × 16
    * centroids seeded from the first 16 corpus vectors, ADC top-5 for
    * the 10 lowest query ids. Exactly oracled: the oracle re-derives
    * the codebook from the embeddings table (deterministic seed),
    * re-encodes every vector (argmin sub-L2, ties → lowest centroid),
    * and folds the 8 ADC table terms in fixed subspace order — every
    * double matches bit-for-bit. */
  private def q78(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    pq.annTopK(e, e.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
      .sortedOut("query_id", "rank")
  }

  private val q78Sql =
    """WITH cents AS (SELECT CAST(vec_id AS INTEGER) AS c, embedding FROM embeddings WHERE vec_id < 16),
      |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
      |enc AS (
      |  SELECT vec_id, j, c AS code FROM (
      |    SELECT v.vec_id, js.j, ct.c,
      |      row_number() OVER (PARTITION BY v.vec_id, js.j ORDER BY
      |        list_sum(list_transform(list_zip(v.embedding[js.j*8+1 : js.j*8+8], ct.embedding[js.j*8+1 : js.j*8+8]),
      |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
      |        ct.c) AS rn
      |    FROM embeddings v CROSS JOIN js CROSS JOIN cents ct) z
      |  WHERE rn = 1),
      |terms AS (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.j,
      |    list_sum(list_transform(list_zip(q.embedding[e.j*8+1 : e.j*8+8], ct.embedding[e.j*8+1 : e.j*8+8]),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS term
      |  FROM embeddings q
      |  JOIN enc e ON e.vec_id <> q.vec_id
      |  JOIN cents ct ON ct.c = e.code
      |  WHERE q.vec_id < 10),
      |sc AS (
      |  SELECT query_id, neighbor_id, list_sum(list(term ORDER BY j)) AS score
      |  FROM terms GROUP BY query_id, neighbor_id)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score FROM (
      |  SELECT query_id, neighbor_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM sc)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------ IVF-PQ composed ANN (q84)
  /** The production ANN shape ([[graft.sim.PqIndex.searchAdcIvf]]):
    * PQ's exhaustive ADC code scan gated by IVF cells — each query
    * scores only the codes in its 4 probed cells (of 16) instead of
    * the whole corpus. Deterministic end to end (seed quantizer + seed
    * codebook), so the oracle replays cell assignment, probing, PQ
    * encoding, and the fixed-order ADC fold exactly. */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    pq.annTopKIvf(e, e.where(col("vec_id") < 10), k = 5,
        new graft.sim.IvfIndex(nCells = 16, nProbe = 4))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
      .sortedOut("query_id", "rank")
  }

  private val q84Sql = {
    def cos(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH cents AS (SELECT CAST(vec_id AS INTEGER) AS c, embedding FROM embeddings WHERE vec_id < 16),
       |js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
       |enc AS (
       |  SELECT vec_id, j, c AS code FROM (
       |    SELECT v.vec_id, js.j, ct.c,
       |      row_number() OVER (PARTITION BY v.vec_id, js.j ORDER BY
       |        list_sum(list_transform(list_zip(v.embedding[js.j*8+1 : js.j*8+8], ct.embedding[js.j*8+1 : js.j*8+8]),
       |          p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
       |        ct.c) AS rn
       |    FROM embeddings v CROSS JOIN js CROSS JOIN cents ct) z
       |  WHERE rn = 1),
       |icents AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN icents c) WHERE rn = 1),
       |qprobe AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN icents c WHERE e.vec_id < 10) WHERE rn <= 4),
       |pairs AS (
       |  SELECT q.query_id, q.q_emb, a.vec_id AS neighbor_id
       |  FROM qprobe q JOIN assign a USING (cell)
       |  WHERE a.vec_id <> q.query_id),
       |terms AS (
       |  SELECT p.query_id, p.neighbor_id, e.j,
       |    list_sum(list_transform(list_zip(p.q_emb[e.j*8+1 : e.j*8+8], ct.embedding[e.j*8+1 : e.j*8+8]),
       |      pp -> CAST(pp[1] AS DOUBLE) * CAST(pp[2] AS DOUBLE))) AS term
       |  FROM pairs p
       |  JOIN enc e ON e.vec_id = p.neighbor_id
       |  JOIN cents ct ON ct.c = e.code),
       |sc AS (
       |  SELECT query_id, neighbor_id, list_sum(list(term ORDER BY j)) AS score
       |  FROM terms GROUP BY query_id, neighbor_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score FROM (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM sc)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // -------------------------- standing IVF-PQ index probe (q87)
  /** q84's cell-gated ADC served from the STANDING
    * [[graft.sim.PqVectorIndex]]: PQ codes partitioned by IVF cell on
    * disk (32× smaller than raw vectors), probe join DPP-prunes the
    * cells, assignment+encoding paid at write time. Built once per
    * (session, sf) — the serving contract — and must equal the in-plan
    * q84 row for row, so it shares q84's oracle SQL. */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ivf = new graft.sim.IvfIndex(nCells = 16, nProbe = 4)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    val dir = s"target/indexes/pqvec_${new java.io.File(d).getName}"
    // build-once marker must be SESSION-scoped (a temp view), not a
    // filesystem check: an on-disk _SUCCESS outlives the JVM, so a
    // stale index from a previous session — or from a regenerated
    // fixture at the same path — would be probed silently instead of
    // rebuilt (the q86 catalog-check discipline)
    val marker = "q87_built_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(marker)) {
      graft.sim.PqVectorIndex.write(e, dir, ivf, ivf.centroidsOf(e), pq, pq.codebookOf(e))
      s.range(1).createOrReplaceTempView(marker)
    }
    graft.sim.PqVectorIndex.topK(s, dir, e.where(col("vec_id") < 10), k = 5, ivf, pq)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
      .sortedOut("query_id", "rank")
  }

  // -------------------------- PQ-index retraction probe (q302)
  /** The takedown path on the FIFTH standing-index family
    * ([[graft.sim.PqVectorIndex.retract]]): q87's cell-gated ADC probe
    * after retracting vec_id % 9 == 4 from the standing code table.
    * The tombstone carries IDS ONLY — the index stores codes, not
    * vectors, and a takedown typically has neither; reclaim derives
    * the affected cells from the index itself (the ADVICE r14 #2
    * stale-assignment hazard cannot occur). Until reclamation the ADC
    * scan pays one broadcast anti-join; the oracle rebuilds q84's
    * corpus-side assignment WITHOUT the retracted vectors (quantizer
    * and codebook unchanged — retraction never refits). */
  private def q302(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ivf = new graft.sim.IvfIndex(nCells = 16, nProbe = 4)
    val pq = new graft.sim.PqIndex(dim = 64, m = 8, ksub = 16)
    val dir = s"target/indexes/pqvecret_${new java.io.File(d).getName}"
    val marker = "q302_built_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!s.catalog.tableExists(marker)) {
      graft.sim.PqVectorIndex.write(e, dir, ivf, ivf.centroidsOf(e), pq, pq.codebookOf(e))
      graft.sim.PqVectorIndex.retract(s, dir,
        e.where(col("vec_id") % 9 === 4).select("vec_id"))
      s.range(1).createOrReplaceTempView(marker)
    }
    graft.sim.PqVectorIndex.topK(s, dir, e.where(col("vec_id") < 10), k = 5, ivf, pq)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
      .sortedOut("query_id", "rank")
  }

  private val q302Sql = q84Sql.replace(
    "FROM embeddings e CROSS JOIN icents c) WHERE rn = 1)",
    "FROM embeddings e CROSS JOIN icents c WHERE e.vec_id % 9 <> 4) WHERE rn = 1)")

  // ---------------- embedding near-dup corpus dedup, end to end (q88)
  /** The embedding member of the corpus-dedup family (q48 is the text
    * twin): hyperplane-LSH candidate pairs → exact-cosine verify →
    * connected components → keep each cluster's min id. Exactly
    * oracled including the recursive components (the pair generation
    * is deterministic, so DuckDB replays it from hyperplane
    * literals). */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val pairs = VectorFunctions.cosineNearDupPairs(emb(s, d), dim = 64, minCos = 0.45)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val docs = emb(s, d).select(col("vec_id").as("doc_id"))
    val kept = graft.dedup.Dedup.dedupByClusters(docs, graft.dedup.Dedup.nearDupClusters(pairs))
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(emb(s, d).agg(count(lit(1)).as("n_total")))
  }

  private val q88Sql = {
    def bucketExpr(l: RandomHyperplaneLsh, c: String): String =
      l.hyperplanes.zipWithIndex.map { case (h, p) =>
        val lits = h.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"""(CASE WHEN list_sum(list_transform(list_zip($c, $lits),
           |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
           |  THEN ${1 << p} ELSE 0 END)""".stripMargin
      }.mkString("(", " + ", ")")
    val lshs = (0 until 8).map(t => new RandomHyperplaneLsh(64, 4, 42L + t))
    val refine = new RandomHyperplaneLsh(64, 16, 42L + 7777)
    val bandedSql = lshs.zipWithIndex.map { case (l, t) =>
      s"SELECT vec_id, $t AS tbl, ${bucketExpr(l, "embedding")} AS bucket, " +
        s"${bucketExpr(refine, "embedding")} AS sub FROM embeddings"
    }.mkString("\nUNION ALL\n")
    val cos =
      """(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        | / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH RECURSIVE banded AS (
       |$bandedSql),
       |sized AS (SELECT tbl, bucket, count(*) AS n FROM banded GROUP BY tbl, bucket),
       |small AS (SELECT tbl, bucket FROM sized WHERE n <= 1000),
       |safe AS (SELECT banded.* FROM banded JOIN small USING (tbl, bucket)),
       |hot AS (SELECT banded.* FROM banded JOIN sized USING (tbl, bucket) WHERE sized.n > 1000),
       |sized2 AS (SELECT tbl, bucket, sub, count(*) AS n, min(vec_id) AS anchor
       |           FROM hot GROUP BY tbl, bucket, sub),
       |safe2 AS (SELECT hot.* FROM hot JOIN sized2 USING (tbl, bucket, sub) WHERE sized2.n <= 1000),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
       |    FROM safe x JOIN safe y USING (tbl, bucket) WHERE x.vec_id < y.vec_id
       |    UNION ALL
       |    SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
       |    FROM safe2 x JOIN safe2 y USING (tbl, bucket, sub) WHERE x.vec_id < y.vec_id
       |    UNION ALL
       |    SELECT sized2.anchor AS doc_a, hot.vec_id AS doc_b
       |    FROM hot JOIN sized2 USING (tbl, bucket, sub)
       |    WHERE sized2.n > 1000 AND hot.vec_id != sized2.anchor)),
       |p AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN embeddings a ON a.vec_id = doc_a JOIN embeddings b ON b.vec_id = doc_b
       |  WHERE NOT isnan($cos) AND $cos >= 0.45),
       |nodes AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
       |labels AS (
       |  SELECT n.doc_id, least(n.doc_id, min(r.b)) AS cluster
       |  FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id GROUP BY n.doc_id)
       |SELECT
       |  CAST((SELECT count(*) FROM embeddings) - (SELECT count(*) FROM nodes)
       |       + (SELECT count(DISTINCT cluster) FROM labels) AS BIGINT) AS n_kept,
       |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_total""".stripMargin
  }

  // --------------- semantic dedup via IVF cells, SemDeDup (q107)
  /** The cell-blocked member of the embedding-dedup family (q88 is the
    * LSH-blocked twin; Abbas et al.'s SemDeDup is the published shape):
    * assign every vector to its nearest coarse-quantizer cell (the
    * q47 zero-exchange literal-centroid projection), generate
    * candidates ONLY within a cell, exact-cosine verify, connected
    * components, keep each cluster's min id. Same output contract as
    * q88 so the two blocking schemes are directly comparable.
    *
    * Scale shape: within-cell pairing is O(Σ n_c²) — the published
    * recipe keeps cells small by fitting k ≈ N/⟨cell⟩ centroids (100k
    * clusters for web-scale corpora), and a hot cell re-splits with
    * extra hyperplanes exactly like the q58 two-level refinement; at
    * the fixture's 16 cells this is the eval scale. Blocked, never
    * all-pairs: the cell equi-join shuffles by cell only. */
  private def q107(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ivf = new graft.sim.IvfIndex(nCells = 16, nProbe = 1)
    val assigned = ivf.assign(e)
    val a = assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("emb_b"))
    val cos = VectorFunctions.cosine(col("emb_a"), col("emb_b"))
    val pairs = a.join(b, Seq("cell")).where(col("doc_a") < col("doc_b"))
      .where(!isnan(cos) && cos >= 0.45)
      .select(col("doc_a"), col("doc_b"))
    val docs = e.select(col("vec_id").as("doc_id"))
    val kept = graft.dedup.Dedup.dedupByClusters(docs,
      graft.dedup.Dedup.nearDupClusters(pairs))
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(e.agg(count(lit(1)).as("n_total")))
  }

  private val q107Sql = {
    val cos =
      """(list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        | / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    def ccos(x: String, y: String) =
      s"""(list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($x, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($y, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))))""".stripMargin
    s"""WITH RECURSIVE centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${ccos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |p AS (
       |  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
       |  FROM assign x JOIN assign y USING (cell)
       |  JOIN embeddings a ON a.vec_id = x.vec_id
       |  JOIN embeddings b ON b.vec_id = y.vec_id
       |  WHERE x.vec_id < y.vec_id AND NOT isnan($cos) AND $cos >= 0.45),
       |nodes AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
       |labels AS (
       |  SELECT n.doc_id, least(n.doc_id, min(r.b)) AS cluster
       |  FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id GROUP BY n.doc_id)
       |SELECT
       |  CAST((SELECT count(*) FROM embeddings) - (SELECT count(*) FROM nodes)
       |       + (SELECT count(DISTINCT cluster) FROM labels) AS BIGINT) AS n_kept,
       |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_total""".stripMargin
  }

  // ------------------------------- hybrid retrieval, RRF fusion (q92)
  /** Hybrid search — the retrieval shape RAG pipelines actually run:
    * a lexical arm (BM25 over `documents`, q63's exact scoring
    * contract, fixed query "join stream vector") and a vector arm
    * (fused-codegen cosine against doc 0's embedding) each produce a
    * top-30 ranking; reciprocal-rank fusion (k=60) merges them and the
    * fused top-15 is returned with both component ranks.
    *
    * Determinism: only integer RANKS cross the fusion boundary —
    * 1.0/(60+rank) and their sum are single IEEE ops, bit-identical
    * across engines (the raw BM25/cosine doubles never leave their
    * arm; q63 pinned the lexical ranking stable, q32 the cosine one).
    *
    * Scale shape: each arm is a TakeOrderedAndProject top-k (no global
    * sort); the rank window and the full-outer fusion run on two
    * 30-row frames. For M queries, both arms partition by query_id and
    * the fusion joins k-row-per-query frames on (query_id, doc_id). */
  private def q92(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextFunctions
    val terms = Seq("join", "stream", "vector")
    val toks = TextFunctions.tokens(col("text"))
    // same persist rationale as q63: stats and scoring both consume tf
    val tf = graft.Tables.documents(s, d).select(
      col("doc_id") +: size(toks).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).as(s"tf$i") }: _*)
      .persistT
    val stats = tf.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"),
      count(when(col("tf0") > 0, 1)).as("df0"),
      count(when(col("tf1") > 0, 1)).as("df1"),
      count(when(col("tf2") > 0, 1)).as("df2"))
    def part(tfc: Column, dfc: Column): Column =
      log((col("n_docs") - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0)) *
        tfc * lit(2.2) /
        (tfc + lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("dl") * col("n_docs")) / col("sum_len").cast("double")))
    val score = part(col("tf0"), col("df0")) +
      part(col("tf1"), col("df1")) + part(col("tf2"), col("df2"))
    val lexTop = tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(30)
    // rank window AFTER the top-k: single-partition over 30 rows only
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = lexTop.withColumn("lex_rank", row_number().over(wLex))
      .select(col("doc_id"), col("lex_rank"))

    val e = emb(s, d)
    // limit(1) = the static bound (vec_id is unique, so it cannot
    // truncate): makes the BNLJ build provably 1-row for planLint
    val qv = broadcast(e.where(col("vec_id") === 0).limit(1)
      .select(col("embedding").as("q_emb")))
    val vecTop = e.where(col("vec_id") =!= 0).crossJoin(qv)
      .select(col("vec_id").as("doc_id"),
        VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(30)
    val wVec = Window.orderBy(col("cos").desc, col("doc_id"))
    val vec = vecTop.withColumn("vec_rank", row_number().over(wVec))
      .select(col("doc_id"), col("vec_rank"))

    val rrf = coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0))
    val wFused = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), rrf.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(15)
      .withColumn("fused_rank", row_number().over(wFused))
      .sortedOut("fused_rank")
  }

  // Oracle note: bare numeric literals like 1.0 are DECIMAL in DuckDB,
  // and decimal division diverges from Spark's IEEE double arithmetic —
  // every fusion-arithmetic literal below is CAST to DOUBLE explicitly.
  private val q92Sql = {
    val cos = duckCos.format("q.q_emb", "c.embedding", "q.q_emb", "c.embedding")
    s"""WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |tf AS (SELECT doc_id, len(tk) AS dl,
       |         len(list_filter(tk, t -> t = 'join')) AS tf0,
       |         len(list_filter(tk, t -> t = 'stream')) AS tf1,
       |         len(list_filter(tk, t -> t = 'vector')) AS tf2
       |       FROM d),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_len,
       |         count(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
       |         count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
       |         count(CASE WHEN tf2 > 0 THEN 1 END) AS df2
       |       FROM tf),
       |lexs AS (SELECT doc_id,
       |      ln(CAST(n_docs - df0 + 0.5 AS DOUBLE)/CAST(df0 + 0.5 AS DOUBLE) + 1.0)*tf0*2.2/(tf0 + 1.2*(0.25 + 0.75*(dl*n_docs)/CAST(sum_len AS DOUBLE)))
       |    + ln(CAST(n_docs - df1 + 0.5 AS DOUBLE)/CAST(df1 + 0.5 AS DOUBLE) + 1.0)*tf1*2.2/(tf1 + 1.2*(0.25 + 0.75*(dl*n_docs)/CAST(sum_len AS DOUBLE)))
       |    + ln(CAST(n_docs - df2 + 0.5 AS DOUBLE)/CAST(df2 + 0.5 AS DOUBLE) + 1.0)*tf2*2.2/(tf2 + 1.2*(0.25 + 0.75*(dl*n_docs)/CAST(sum_len AS DOUBLE))) AS score
       |  FROM tf, st),
       |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS lex_rank
       |        FROM lexs QUALIFY lex_rank <= 30),
       |vecs AS (
       |  SELECT c.vec_id AS doc_id, $cos AS cos
       |  FROM embeddings c CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
       |  WHERE c.vec_id <> 0),
       |vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS vec_rank
       |        FROM vecs QUALIFY vec_rank <= 30),
       |fused AS (
       |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
       |         coalesce(CAST(1.0 AS DOUBLE)/(60 + lex_rank), CAST(0.0 AS DOUBLE))
       |       + coalesce(CAST(1.0 AS DOUBLE)/(60 + vec_rank), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
       |SELECT doc_id, lex_rank, vec_rank, rrf,
       |       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS fused_rank
       |FROM fused QUALIFY fused_rank <= 15 ORDER BY fused_rank""".stripMargin
  }

  // ------------------------------------ ANN recall@k evaluation (q94)
  /** Measures IVF ANN quality against brute-force ground truth —
    * "measure, don't guess" applied to the engine's own approximate
    * operators: recall@5 per query for q47's IVF configuration
    * (16 cells, 4 probed) vs q32's exact top-5. The production loop
    * this models: re-run on a sample after each index rebuild, alert
    * when recall drifts.
    *
    * Integer hit counts cross the engine boundary (set intersection of
    * two rankings both pinned exact by their own oracles); recall is
    * one IEEE division of the count. Both arms are top-k per query —
    * the measurement costs |sample|·|corpus| scored rows, which is why
    * it runs on a query SAMPLE, never the full corpus. */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val queries = e.where(col("vec_id") < 10)
    val exact = VectorFunctions.bruteForceTopK(e, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = new graft.sim.IvfIndex(nCells = 16, nProbe = 4)
      .annTopK(e, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).cast(IntegerType).as("hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0)).as("hits"),
        (coalesce(col("hits"), lit(0)) / lit(5.0)).as("recall"))
      .sortedOut("query_id")
  }

  /** exact arm = q32's oracle internals; approx arm = q47's. */
  private val q94Sql = {
    val bruteCos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    def cos(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY $bruteCos DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10) WHERE rank <= 5),
       |centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |qprobe AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c WHERE e.vec_id < 10) WHERE rn <= 4),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id,
       |             ${cos("q.q_emb", "a.embedding")} AS cos
       |      FROM qprobe q JOIN assign a USING (cell)
       |      WHERE a.vec_id <> q.query_id)) WHERE rank <= 5),
       |hits AS (
       |  SELECT a.query_id, count(*) AS h
       |  FROM approx a JOIN exact e ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |  GROUP BY a.query_id)
       |SELECT q.vec_id AS query_id,
       |       CAST(coalesce(h, 0) AS INTEGER) AS hits,
       |       CAST(coalesce(h, 0) AS DOUBLE) / CAST(5.0 AS DOUBLE) AS recall
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
       |LEFT JOIN hits ON hits.query_id = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  // --------------------------- ANN MRR@10 evaluation (q101)
  /** The rank-position complement to q94's recall: where in the IVF
    * top-10 does each query's TRUE nearest neighbor (brute-force
    * top-1) land? rr = 1/rank, 0 when the index misses it entirely —
    * the metric that distinguishes "found it first" from "found it
    * tenth", which recall@k can't see. Integer ranks cross the engine
    * boundary; 1/rank is a single IEEE division. Same sampled-query
    * cost shape as q94. */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val queries = e.where(col("vec_id") < 10)
    val exact1 = VectorFunctions.bruteForceTopK(e, queries, k = 1)
      .select(col("query_id"), col("neighbor_id").as("true_nn"))
    val approx10 = new graft.sim.IvfIndex(nCells = 16, nProbe = 4)
      .annTopK(e, queries, k = 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    exact1.join(approx10,
        approx10("query_id") === exact1("query_id") &&
          col("neighbor_id") === col("true_nn"), "left_outer")
      .select(exact1("query_id"), col("true_nn"),
        col("rank").as("found_rank"),
        coalesce(lit(1.0) / col("rank"), lit(0.0)).as("rr"))
      .sortedOut("query_id")
  }

  private val q101Sql = {
    val bruteCos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    def cos(a: String, b: String) =
      s"""(list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH exact1 AS (
       |  SELECT query_id, neighbor_id AS true_nn FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id ORDER BY $bruteCos DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10) WHERE rank = 1),
       |centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |qprobe AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c WHERE e.vec_id < 10) WHERE rn <= 4),
       |approx10 AS (
       |  SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM (
       |      SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id,
       |             ${cos("q.q_emb", "a.embedding")} AS cos
       |      FROM qprobe q JOIN assign a USING (cell)
       |      WHERE a.vec_id <> q.query_id)) WHERE rank <= 10)
       |SELECT e.query_id, e.true_nn, a.rank AS found_rank,
       |       coalesce(CAST(1.0 AS DOUBLE) / a.rank, CAST(0.0 AS DOUBLE)) AS rr
       |FROM exact1 e
       |LEFT JOIN approx10 a ON a.query_id = e.query_id AND a.neighbor_id = e.true_nn
       |ORDER BY e.query_id""".stripMargin
  }

  // --------------------------- SQ8 scalar-quantized ANN top-k (q114)
  /** Top-5 neighbors per query under SQ8 scalar quantization
    * ([[graft.sim.ScalarQuant]]): one corpus max-abs scalar, int8
    * codes, INTEGER dot-product ranking — exactly oracled end to end
    * because every score is an integer (no float-fold convention
    * needed; ties on neighbor_id). The 4×-compressed serving tier
    * between float brute force (q32) and PQ's 32× (q78). */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.sim.ScalarQuant.sq8TopK(e, e.where(col("vec_id") < 10), dim = 64, k = 5)
      .sortedOut("query_id", "rank")
  }

  private val q114Sql = {
    val valid =
      """embedding IS NOT NULL AND len(embedding) = 64
        | AND len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0
        | AND list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0""".stripMargin
    s"""WITH m AS (
       |  SELECT max(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))) AS max_abs
       |  FROM embeddings WHERE $valid),
       |enc AS (
       |  SELECT vec_id, list_transform(embedding, x ->
       |    greatest(-127, least(127, CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS INTEGER)))) AS code
       |  FROM embeddings, m WHERE $valid),
       |q AS (SELECT vec_id AS query_id, code AS q_code FROM enc WHERE vec_id < 10)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, score FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(q.q_code, c.code),
       |      p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS BIGINT) AS score,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_sum(list_transform(list_zip(q.q_code, c.code),
       |        p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) DESC, c.vec_id) AS rank
       |  FROM q JOIN enc c ON c.vec_id <> q.query_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------- nearest-centroid classification (q118)
  /** Embedding classification by labeled prototypes: per-label centroid
    * over the seed slice (vec_id < 100), nearest-centroid prediction
    * for the rest, output = the confusion matrix — the semantic-tagging
    * primitive a curation pipeline uses to route documents by topic
    * with only a handful of labeled seeds.
    *
    * Every double is fold-order-pinned (centroid means sum in vec_id
    * order, cosine is the engine-standard sequential fold), so the
    * ARGMAX — and with it every integer count — reproduces exactly in
    * SQL. Scale shape: centroids are |labels| rows computed from the
    * seed slice only, broadcast to a narrow one-pass scoring projection
    * over the corpus; the confusion matrix is a map-side-combinable
    * |labels|² aggregate. Nothing all-pairs anywhere. */
  private def q118(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val seedDims = e.where(col("vec_id") < 100)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("vf").cast("double").as("v"))
    val cdim = seedDims.groupBy(col("label"), col("pos"))
      .agg(collect_list(struct(col("vec_id"), col("v"))).as("vs"),
        count(lit(1)).as("cnt"))
      .select(col("label"), col("pos"),
        (aggregate(array_sort(col("vs")), lit(0.0),
          (a, x) => a + x.getField("v")) / col("cnt").cast("double")).as("m"))
    val cents = cdim.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("clabel"),
        transform(col("pm"), x => x.getField("m")).as("centroid"))
    // cosine vs a double-typed centroid: the HOF twin of the native
    // float-only CosineSimilarity, same left-to-right fold order
    def dcos(a: Column, b: Column): Column = {
      val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
        lit(0.0), (s, x) => s + x)
      val na = aggregate(transform(a,
        x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x)
      val nb = aggregate(transform(b,
        x => x.cast("double") * x.cast("double")), lit(0.0), (s, x) => s + x)
      dot / (sqrt(na) * sqrt(nb))
    }
    val scored = e.where(col("vec_id") >= 100)
      // label axis is a bounded registry; the guard makes the bound
      // static for planLint and fails loudly past the cap
      .crossJoin(broadcast(graft.ops.RelationalOps.boundedRegistry(
        cents, 4096, "q118 label centroids")))
      .select(col("vec_id"), col("label"), col("clabel"),
        dcos(col("embedding"), col("centroid")).as("cos"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("clabel"))))
      .where(col("rn") === 1)
      .select(col("label"), col("clabel").as("pred_label"))
      .groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))
      .sortedOut("label", "pred_label")
  }

  private val q118Sql = {
    val cos = duckCos.format("e.embedding", "c.centroid", "e.embedding", "c.centroid")
    s"""WITH seedx AS (
       |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
       |  FROM embeddings,
       |       (SELECT unnest(range(1, (SELECT len(embedding) + 1
       |                               FROM embeddings LIMIT 1))) AS i) dims
       |  WHERE vec_id < 100),
       |cdim AS (
       |  SELECT label, pos,
       |         list_sum(list(v ORDER BY vec_id)) / CAST(count(*) AS DOUBLE) AS m
       |  FROM seedx GROUP BY label, pos),
       |cents AS (
       |  SELECT label AS clabel, list(m ORDER BY pos) AS centroid
       |  FROM cdim GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.clabel, $cos AS cos
       |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id >= 100),
       |pred AS (
       |  SELECT vec_id, label, clabel,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
       |  FROM scored)
       |SELECT label, clabel AS pred_label, CAST(count(*) AS BIGINT) AS n
       |FROM pred WHERE rn = 1
       |GROUP BY 1, 2 ORDER BY label, pred_label""".stripMargin
  }

  // --------------- semantic decontamination vs a benchmark set (q126)
  /** Embedding-space decontamination (VERDICT r6 item 5): vec_id < 50
    * plays the benchmark/eval suite, the rest is the training corpus; a
    * corpus vector is contaminated when its max cosine against a
    * benchmark vector IN ITS IVF CELL reaches 0.45 (q107's near-dup
    * band — a paraphrased benchmark item lands there while sharing no
    * n-grams with q74/q102's arms). Cell-blocked via
    * [[graft.sim.IvfIndex.decontaminate]] — the shared 16-cell seed
    * quantizer assigns both sides, candidates exist only within a
    * cell, and the oracle replicates the blocking exactly, so the
    * recall bound is part of the contract, not noise. Reported as
    * per-label corpus totals / screened (≥1 candidate) / contaminated
    * counts — pure counts, exactly comparable. */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ivf = new graft.sim.IvfIndex(nCells = 16, nProbe = 1)
    val cents = ivf.centroidsOf(e) // seed quantizer: vec_id < 16
    val bench = e.where(col("vec_id") < 50)
    val corpus = e.where(col("vec_id") >= 50)
    val flags = ivf.decontaminate(corpus, bench, cents, minCos = 0.45)
    corpus.select(col("vec_id"), col("label"))
      .join(flags, Seq("vec_id"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_cands") > 0, 1L).otherwise(0L)).as("n_checked"),
           sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contam"))
      .sortedOut("label")
  }

  private val q126Sql = {
    val cos = duckCos.format("c.embedding", "b.embedding", "c.embedding", "b.embedding")
    def ccos(x: String, y: String) =
      s"""(list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($x, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         |   * sqrt(list_sum(list_transform($y, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))))""".stripMargin
    s"""WITH centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, embedding, label, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.label, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${ccos("e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |flags AS (
       |  SELECT c.vec_id,
       |         count(b.vec_id) AS n_cands,
       |         coalesce(max($cos) >= 0.45, false) AS contaminated
       |  FROM assign c
       |  LEFT JOIN assign b
       |    ON b.cell = c.cell AND b.vec_id < 50 AND NOT isnan($cos)
       |  WHERE c.vec_id >= 50
       |  GROUP BY c.vec_id)
       |SELECT a.label,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN f.n_cands > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_checked,
       |       CAST(sum(CASE WHEN f.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
       |FROM assign a JOIN flags f USING (vec_id)
       |GROUP BY a.label ORDER BY a.label""".stripMargin
  }

  // ------------------------ hard-negative mining (q129)
  /** Contrastive-training data prep: for each query vector, the top-5
    * most-similar vectors with a DIFFERENT label — the "hard
    * negatives" an embedding-training pipeline mines (easy negatives
    * are useless, same-label neighbors are positives). Brute-force
    * broadcast scoring is the exactly-oracled baseline (q32's
    * discipline: fused fold-order-pinned cosine, ranking ties by
    * neighbor id); the 100 TB path swaps the scorer for the IVF/PQ
    * candidates (q84) and keeps the same label-exclusion + rank
    * contract. NaN cosines (dirty vectors) are dropped before ranking
    * — they would otherwise sort ABOVE every real negative. */
  private def q129(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb(s, d)
    // limit(16) cannot truncate (vec_id < 10 admits ≤ 10 rows); it
    // exists to make the BNLJ build statically bounded for planLint
    val q = e.where(col("vec_id") < 10).limit(16)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        VectorFunctions.cosine(col("q_emb"), col("embedding")).as("cos"))
      .where(!isnan(col("cos")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), col("cos"))
      .sortedOut("query_id", "rank")
  }

  private val q129Sql = {
    val cos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, neg_label, cos FROM (
       | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neg_label,
       |        $cos AS cos,
       |        row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       | FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id AND c.label <> q.label
       | WHERE q.vec_id < 10 AND NOT isnan($cos))
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------- dominant principal direction (q137)
  /** [[graft.sim.PrincipalComponent.topComponent]] over the corpus:
    * the direction ABTT-style embedding debiasing removes and PCA
    * whitening starts from. 3 power-iteration steps, centered; every
    * double is an ordered fold (in-row dot in dimension order, per-dim
    * sums in vec_id order, norms in dimension order), so all `dim`
    * loadings hash-match the unrolled oracle. The one-pass d×d Gram
    * path ([[graft.sim.PrincipalComponent.topComponentGram]]) is the
    * 100 TB variant — spec-pinned to agree in direction, unpinned in
    * bit pattern (float-sum order), hence not the oracled arm. */
  private def q137(s: SparkSession, d: String): DataFrame =
    graft.sim.PrincipalComponent.topComponent(emb(s, d), iters = 3, center = true)
      .sortedOut("dim")

  private val q137Sql = {
    def iter(prev: String, cur: String) =
      s"""c$cur AS (
         |  SELECT vec_id, e,
         |         list_sum(list_transform(list_zip(e, v), p -> p[1] * p[2])) AS c
         |  FROM xc CROSS JOIN v$prev),
         |yd$cur AS (
         |  SELECT i, list_sum(list(e[i] * c ORDER BY vec_id)) AS y
         |  FROM c$cur, dims GROUP BY i),
         |yv$cur AS (SELECT list(y ORDER BY i) AS y FROM yd$cur),
         |v$cur AS (SELECT list_transform(y, t -> t / sqrt(list_sum(list_transform(y, u -> u * u)))) AS v
         |          FROM yv$cur)""".stripMargin
    s"""WITH x0 AS (
       |  SELECT vec_id, list_transform(embedding, t -> CAST(t AS DOUBLE)) AS e
       |  FROM embeddings),
       |dims AS (SELECT unnest(range(1, (SELECT len(e) + 1 FROM x0 LIMIT 1))) AS i),
       |xd AS (SELECT vec_id, i, e[i] AS xv FROM x0, dims),
       |mud AS (SELECT i, list_sum(list(xv ORDER BY vec_id)) / CAST(count(*) AS DOUBLE) AS m
       |        FROM xd GROUP BY i),
       |muv AS (SELECT list(m ORDER BY i) AS mu FROM mud),
       |xc AS (SELECT vec_id, list_transform(list_zip(e, mu), p -> p[1] - p[2]) AS e
       |       FROM x0 CROSS JOIN muv),
       |v0 AS (SELECT list_transform(e, t -> CAST(1.0 AS DOUBLE)) AS v FROM xc LIMIT 1),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT CAST(i - 1 AS INTEGER) AS dim, v[i] AS loading
       |FROM v3, dims ORDER BY dim""".stripMargin
  }

  // ---------------- margin-based bitext mining (q138)
  /** Artetxe–Schwenk margin scoring — the standard mined-parallel-text
    * (bitext) selector: a candidate pair's raw cosine is normalized by
    * the mean of both endpoints' top-k neighborhoods, so "hub" vectors
    * that are close to EVERYTHING stop winning every alignment.
    * Sides: even vec_ids play the source language, odd the target.
    * margin(a,b) = 2·cos(a,b) / (avgTop4(a→B) + avgTop4(b→A)); each
    * source keeps its best-margin target when margin > 1.
    *
    * Scale shape: the all-pairs score is the oracle-able baseline —
    * production swaps candidate generation for the IVF/PQ probe
    * (q84/q87's cell-pruned joins) and the margin arithmetic is
    * UNCHANGED on the k·|A| candidate frame. The scored frame persists
    * at its three fan-out points (two neighborhood selections + the
    * final join); neighborhood means are top-4 folds in RANK order, so
    * every margin double hash-matches the oracle.
    *
    * r17: each top-4 neighborhood and the best-margin pick rode a
    * ranking window — a full sort + rank of the all-pairs frame per
    * use (three of them). They ride [[graft.plans.TopKPerKey]] now —
    * a bounded per-partition heap under the IDENTICAL total order, so
    * the shuffle carries ≤ k rows per (key, partition) and the only
    * remaining window ranks ≤ 4 rows per key (needed because the
    * neighborhood fold sums in rank order). Selection is unchanged by
    * construction: same total order, same k. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val a = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("ea"))
    val b = e.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("eb"))
    val scored = a.crossJoin(broadcast(b))
      .select(col("src_id"), col("tgt_id"),
        VectorFunctions.cosine(col("ea"), col("eb")).as("cos"))
      .where(!isnan(col("cos")))
      .persistT
    def nbhdMean(part: String, other: String) =
      graft.plans.TopKPerKey.topK(scored, Seq(part),
          Seq(col("cos").desc, col(other)), 4)
        .withColumn("rn", row_number().over(
          Window.partitionBy(part).orderBy(col("cos").desc, col(other))))
        .groupBy(part)
        .agg((aggregate(array_sort(collect_list(struct(col("rn"), col("cos").as("v")))),
          lit(0.0), (s0, x) => s0 + x.getField("v")) /
          count(lit(1)).cast("double")).as(s"avg_$part"))
    val margins = scored
      .join(nbhdMean("src_id", "tgt_id"), Seq("src_id"))
      .join(nbhdMean("tgt_id", "src_id"), Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("cos"),
        (lit(2.0) * col("cos") / (col("avg_src_id") + col("avg_tgt_id"))).as("margin"))
    graft.plans.TopKPerKey.topK(margins, Seq("src_id"),
        Seq(col("margin").desc, col("tgt_id")), 1)
      .where(col("margin") > 1.0)
      .select("src_id", "tgt_id", "cos", "margin")
      .sortedOut("src_id")
  }

  private val q138Sql = {
    val cos = duckCos.format("a.embedding", "b.embedding", "a.embedding", "b.embedding")
    s"""WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
       |scored AS (
       |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, $cos AS cos
       |  FROM a CROSS JOIN b),
       |sc AS (SELECT * FROM scored WHERE NOT isnan(cos)),
       |ra AS (SELECT src_id, cos,
       |         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rn
       |       FROM sc),
       |avga AS (SELECT src_id, list_sum(list(cos ORDER BY rn)) / CAST(count(*) AS DOUBLE) AS avg_a
       |         FROM ra WHERE rn <= 4 GROUP BY src_id),
       |rb AS (SELECT tgt_id, cos,
       |         row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rn
       |       FROM sc),
       |avgb AS (SELECT tgt_id, list_sum(list(cos ORDER BY rn)) / CAST(count(*) AS DOUBLE) AS avg_b
       |         FROM rb WHERE rn <= 4 GROUP BY tgt_id),
       |m AS (SELECT s.src_id, s.tgt_id, s.cos,
       |        CAST(2.0 AS DOUBLE) * s.cos / (avg_a + avg_b) AS margin
       |      FROM sc s JOIN avga USING (src_id) JOIN avgb USING (tgt_id)),
       |best AS (SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
       |         FROM m)
       |SELECT src_id, tgt_id, cos, margin FROM best
       |WHERE rn = 1 AND margin > 1.0 ORDER BY src_id""".stripMargin
  }

  // ---------------- corpus-version embedding drift (q144)
  /** Distribution-shift monitor between corpus snapshots: per label,
    * the cosine and L2 distance between snapshot A's and snapshot B's
    * centroids (even vec_ids play snapshot A, odd snapshot B — the
    * same side convention as q138). A drifting label means the source
    * changed character between crawls: re-embed, re-threshold the
    * dedup gates, or quarantine the source. This is the embedding-
    * space twin of the schema-drift report.
    *
    * Scale shape: each snapshot collapses to |labels|·dim mean cells
    * (the q35 per-(label,pos) sorted-fold discipline — group sizes
    * bounded by corpus/|labels|), then the A-B comparison is a
    * |labels|·dim join and a per-label fold in dimension order. The
    * corpus is touched ONCE; everything downstream of the first
    * aggregate is |labels|-sized. Every double is an ordered fold
    * (per-cell sums value-sorted, cross-dim folds pos-sorted), so
    * cosines and distances hash-match the oracle exactly. */
  private def q144(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("label"),
      (col("vec_id") % 2 === 0).as("is_a"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
    val m = e.groupBy("label", "is_a", "pos")
      .agg(sort_array(collect_list(col("x").cast(DoubleType))).as("xs"),
           count(lit(1)).as("n"))
      .select(col("label"), col("is_a"), col("pos"),
        (aggregate(col("xs"), lit(0.0), (acc, v) => acc + v) /
          col("n").cast(DoubleType)).as("m"),
        col("n"))
    val a = m.where(col("is_a"))
      .select(col("label"), col("pos"), col("m").as("ma"), col("n").as("n_a"))
    val b = m.where(!col("is_a"))
      .select(col("label"), col("pos"), col("m").as("mb"), col("n").as("n_b"))
    def fold(f: Column => Column): Column =
      aggregate(col("dims"), lit(0.0), (acc, v) => acc + f(v))
    a.join(b, Seq("label", "pos"))
      .groupBy("label")
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
           sort_array(collect_list(struct(col("pos"), col("ma"), col("mb")))).as("dims"))
      .select(col("label"), col("n_a"), col("n_b"),
        fold(v => v.getField("ma") * v.getField("mb")).as("dot"),
        fold(v => v.getField("ma") * v.getField("ma")).as("na2"),
        fold(v => v.getField("mb") * v.getField("mb")).as("nb2"),
        fold(v => (v.getField("ma") - v.getField("mb")) *
                  (v.getField("ma") - v.getField("mb"))).as("d2"))
      .select(col("label"), col("n_a"), col("n_b"),
        (col("dot") / (sqrt(col("na2")) * sqrt(col("nb2")))).as("centroid_cos"),
        sqrt(col("d2")).as("centroid_l2"))
      .sortedOut("label")
  }

  private val q144Sql =
    """WITH e AS (SELECT label, (vec_id % 2 = 0) AS is_a,
      |             generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x
      |           FROM embeddings),
      |m AS (SELECT label, is_a, pos,
      |        list_sum(list_sort(list(CAST(x AS DOUBLE)))) / CAST(count(*) AS DOUBLE) AS m,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM e GROUP BY 1, 2, 3),
      |j AS (SELECT a.label, a.pos, a.m AS ma, b.m AS mb, a.n AS n_a, b.n AS n_b
      |      FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
      |      WHERE a.is_a AND NOT b.is_a),
      |g AS (SELECT label, max(n_a) AS n_a, max(n_b) AS n_b,
      |        list_zip(list(ma ORDER BY pos), list(mb ORDER BY pos)) AS z
      |      FROM j GROUP BY label)
      |SELECT label, n_a, n_b,
      |  list_sum(list_transform(z, p -> p[1] * p[2]))
      |    / (sqrt(list_sum(list_transform(z, p -> p[1] * p[1])))
      |       * sqrt(list_sum(list_transform(z, p -> p[2] * p[2])))) AS centroid_cos,
      |  sqrt(list_sum(list_transform(z, p -> (p[1] - p[2]) * (p[1] - p[2])))) AS centroid_l2
      |FROM g ORDER BY label""".stripMargin

  // ---------------- ANN quality: nDCG@10 (q155)
  /** The third leg of the ANN evaluation tripod (recall@k q94, MRR@10
    * q101): graded-relevance nDCG@10 of the LSH index's list against
    * the brute-force ideal — rank-sensitive where recall is not, so a
    * list that returns the right neighbors in the wrong order pays for
    * it. Relevance grades are the ideal positions (11−rank, 0 outside
    * the ideal top-10); log-discount weights and the constant IDCG are
    * PRECOMPUTED double literals shared verbatim with the oracle
    * (log()/pow() are not bit-portable across engines; the literals
    * are). Per-query DCG folds in rank order. */
  private def q155(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val e = emb(s, d)
    val queries = e.where(col("vec_id") < 10)
    val ideal = VectorFunctions.bruteForceTopK(e, queries, k)
      .select(col("query_id"), col("neighbor_id"),
        (lit(k + 1) - col("rank")).cast("long").as("rel"))
    val ann = q34Lsh.annTopK(e, queries, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val scored = ann.join(ideal, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        (coalesce(col("rel"), lit(0L)).cast(DoubleType) *
          element_at(array(NdcgWeights.map(lit): _*), col("rank"))).as("term"))
    scored.groupBy("query_id")
      .agg(count(lit(1)).as("n_ret"),
           sort_array(collect_list(struct(col("rank"), col("term")))).as("ts"))
      .select(col("query_id"), col("n_ret"),
        aggregate(col("ts"), lit(0.0), (acc, v) => acc + v.getField("term")).as("dcg"))
      .withColumn("ndcg", col("dcg") / lit(NdcgIdeal))
      .sortedOut("query_id")
  }

  /** 1/log2(rank+1) for ranks 1..10 — shared literals (see q155). */
  private val NdcgWeights: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private val NdcgIdeal: Double =
    NdcgWeights.zipWithIndex.map { case (w, i) => (10 - i).toDouble * w }.sum

  private val q155Sql = {
    val bucketExpr = (c: String) => q34Lsh.hyperplanes.zipWithIndex.map { case (h, p) =>
      val lits = h.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"""(CASE WHEN list_sum(list_transform(list_zip($c, $lits),
         |  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) > 0
         |  THEN ${1 << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
    val cosQC =
      """(list_sum(list_transform(list_zip(q.q_emb, c.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        | / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    val wArr = NdcgWeights.map(_.toString).mkString("[", ", ", "]")
    s"""WITH queries AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       |ideal AS (
       |  SELECT query_id, neighbor_id, CAST(11 - rank AS BIGINT) AS rel FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY $cosQC DESC, c.vec_id) AS rank
       |    FROM queries q JOIN embeddings c ON c.vec_id <> q.query_id)
       |  WHERE rank <= 10),
       |corpus AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket FROM embeddings),
       |qb AS (SELECT query_id, q_emb, ${bucketExpr("q_emb")} AS bucket FROM queries),
       |ann AS (
       |  SELECT query_id, rank, neighbor_id FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY $cosQC DESC, c.vec_id) AS rank
       |    FROM qb q JOIN corpus c ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
       |  WHERE rank <= 10),
       |scored AS (
       |  SELECT a.query_id, a.rank,
       |    CAST(coalesce(i.rel, 0) AS DOUBLE) * ($wArr)[a.rank] AS term
       |  FROM ann a LEFT JOIN ideal i
       |    ON i.query_id = a.query_id AND i.neighbor_id = a.neighbor_id)
       |SELECT query_id, CAST(count(*) AS BIGINT) AS n_ret,
       |  list_sum(list(term ORDER BY rank)) AS dcg,
       |  list_sum(list(term ORDER BY rank)) / $NdcgIdeal AS ndcg
       |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  // ---------------- hubness diagnostic: k-occurrence histogram (q156)
  /** How skewed is the neighborhood structure: N_10(x) = how many other
    * vectors list x in their exact top-10. High-dimensional spaces
    * grow hubs (vectors that are everyone's neighbor) and antihubs
    * (occ 0) — the pathology q138's margin normalization corrects —
    * and this histogram is the monitor that says whether cosine
    * retrieval over this embedding space can be trusted at all.
    *
    * Scale shape: exact k-occurrence is quadratic, so it runs on a
    * fixed id-prefix panel (1 000 vectors — an unbiased structural
    * probe, same discipline as q154's candidate-only exactness); at
    * corpus scale the top-10 lists come from the standing ANN index
    * instead and the counting stage is UNCHANGED. Occurrence counts
    * and the histogram are pure integers. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val sub = emb(s, d).where(col("vec_id") < 1000).persistT
    val occ = VectorFunctions.bruteForceTopK(sub, sub, k = 10)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("occ"))
    sub.select(col("vec_id"))
      .join(occ, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("k_occurrence"))
      .groupBy("k_occurrence").agg(count(lit(1)).as("n_vectors"))
      .sortedOut("k_occurrence")
  }

  private val q156Sql = {
    val cos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
       |r AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM sub q JOIN sub c ON c.vec_id <> q.vec_id),
       |occ AS (SELECT neighbor_id, CAST(count(*) AS BIGINT) AS occ
       |        FROM r WHERE rank <= 10 GROUP BY neighbor_id)
       |SELECT coalesce(o.occ, 0) AS k_occurrence, CAST(count(*) AS BIGINT) AS n_vectors
       |FROM sub s LEFT JOIN occ o ON o.neighbor_id = s.vec_id
       |GROUP BY 1 ORDER BY k_occurrence""".stripMargin
  }

  // ---------------- per-dim robust scaling / outlier clip report (q162)
  /** Embedding-preprocessing prep: per dimension, the exact p01/p99
    * winsorization bounds and how many values each would clip — the
    * report that decides whether the embedding space needs robust
    * scaling before centroids/k-means (one poisoned dimension drags
    * every centroid; the adversarial sweep's NaN findings are the
    * extreme case of what this monitors).
    *
    * Exactness bridge: interpolated percentiles are not bit-portable,
    * so bounds pass through the q41 DECIMAL(18,6) rounding convention
    * on both engines and the clip COUNTS compare raw values against
    * those shared rounded bounds — integers after that. Scale: one
    * posexplode pass, a 64-row bounds broadcast, one count pass. */
  private def q162(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"), col("x").cast(DoubleType).as("x"))
      .persistT // bounds pass + count pass
    val bounds = e.groupBy("pos").agg(
      percentile(col("x"), lit(0.01)).cast(DecimalType(18, 6)).cast(DoubleType).as("p01"),
      percentile(col("x"), lit(0.99)).cast(DecimalType(18, 6)).cast(DoubleType).as("p99"))
    e.join(broadcast(bounds), Seq("pos"))
      .groupBy("pos").agg(
        count(lit(1)).as("n"),
        sum(when(col("x") < col("p01"), 1L).otherwise(0L)).as("clipped_lo"),
        sum(when(col("x") > col("p99"), 1L).otherwise(0L)).as("clipped_hi"),
        max(col("p01")).as("p01"), max(col("p99")).as("p99"))
      .sortedOut("pos")
  }

  private val q162Sql =
    """WITH e AS (SELECT generate_subscripts(embedding, 1) - 1 AS pos,
      |             CAST(unnest(embedding) AS DOUBLE) AS x
      |           FROM embeddings),
      |b AS (SELECT pos,
      |        CAST(CAST(quantile_cont(x, 0.01) AS DECIMAL(18,6)) AS DOUBLE) AS p01,
      |        CAST(CAST(quantile_cont(x, 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS p99
      |      FROM e GROUP BY pos)
      |SELECT CAST(e.pos AS INTEGER) AS pos, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN x < p01 THEN 1 ELSE 0 END) AS BIGINT) AS clipped_lo,
      |  CAST(sum(CASE WHEN x > p99 THEN 1 ELSE 0 END) AS BIGINT) AS clipped_hi,
      |  max(p01) AS p01, max(p99) AS p99
      |FROM e JOIN b ON b.pos = e.pos
      |GROUP BY e.pos ORDER BY pos""".stripMargin

  // -------------- cluster-balanced diversity sample (q167)
  /** Diversity-aware corpus selection: cap every IVF cell at 30
    * vectors so no dense region dominates the sample — the
    * cluster-balanced selection step (DCLM/SemDeDup-style) that a
    * uniform hash sample can't give (it reproduces the density skew).
    * Selection WITHIN a cell is [[graft.ops.Sampling.domainCap]]'s
    * deterministic md5-60 priority, riding the bounded-heap
    * TopKPerKey plan — ≤ cap rows per (cell, partition) shuffle, the
    * hot cell never moves wholesale. Output is the per-cell census
    * plus the kept-id checksum, which pins the SELECTED SET (not just
    * its size) to the oracle. */
  private def q167(s: SparkSession, d: String): DataFrame = {
    val assigned = new graft.sim.IvfIndex(nCells = 16, nProbe = 1).assign(emb(s, d))
    val kept = graft.ops.Sampling.domainCap(
      assigned, col("cell"), col("vec_id").cast("string"), cap = 30)
    assigned.groupBy("cell").agg(count(lit(1)).as("n_in_cell"))
      .join(kept.groupBy("cell").agg(count(lit(1)).as("n_kept"),
        sum(col("vec_id")).as("kept_id_sum")), Seq("cell"))
      .sortedOut("cell")
  }

  private val q167Sql = {
    val ccos = duckCos.format("e.embedding", "c.centroid", "e.embedding", "c.centroid")
    s"""WITH centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $ccos DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |pri AS (SELECT vec_id, cell,
       |          CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS pri
       |        FROM assign),
       |kept AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY cell ORDER BY pri, CAST(vec_id AS VARCHAR)) AS rk
       |    FROM pri) WHERE rk <= 30),
       |tot AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_in_cell FROM assign GROUP BY 1),
       |k AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_kept,
       |             CAST(sum(vec_id) AS BIGINT) AS kept_id_sum FROM kept GROUP BY 1)
       |SELECT tot.cell, n_in_cell, n_kept, kept_id_sum
       |FROM tot JOIN k USING (cell) ORDER BY cell""".stripMargin
  }

  // -------------- metadata-filtered ANN (q168)
  /** "Vector search WHERE label = query's label" —
    * [[graft.sim.IvfIndex.annTopKFiltered]] with the per-candidate
    * predicate between the cell join and the ranking window
    * (post-filter semantics; the oracle replicates the same recall
    * contract). The shape every per-tenant / same-language / licensed
    * retrieval stack needs; nProbe=2 keeps the probe narrow while the
    * filter drains candidates. */
  private def q168(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    new graft.sim.IvfIndex(nCells = 16, nProbe = 2)
      .annTopKFiltered(e, e.where(col("vec_id") < 10), k = 5,
        pred = col("label") === col("q_label"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .sortedOut("query_id", "rank")
  }

  private val q168Sql = {
    val ccos = duckCos.format("e.embedding", "c.centroid", "e.embedding", "c.centroid")
    val qcos = duckCos.format("q.q_emb", "a.embedding", "q.q_emb", "a.embedding")
    s"""WITH centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS (
       |  SELECT vec_id, embedding, label, cell FROM (
       |    SELECT e.vec_id, e.embedding, e.label, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $ccos DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |qprobe AS (
       |  SELECT query_id, q_emb, q_label, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, e.label AS q_label, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $ccos DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c WHERE e.vec_id < 10) WHERE rn <= 2),
       |scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id, $qcos AS cos
       |  FROM qprobe q JOIN assign a USING (cell)
       |  WHERE a.vec_id <> q.query_id AND a.label = q.q_label)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored WHERE NOT isnan(cos))
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // -------------- MMR diversified rerank (q172)
  /** [[graft.sim.Mmr]] over each query's brute-force top-20: greedy
    * λ·sim(q,d) − (1−λ)·max-sim-to-selected with λ=0.5 (both
    * constants exactly representable, so the double arithmetic is
    * bit-portable and the oracle unrolls the same 5 greedy rounds).
    * The diversification pass a retrieval stack runs after ANN —
    * kills the "ten copies of the same near-dup" result page. All
    * frames bounded by the candidate lists (k·|Q| and k²·|Q|); the
    * corpus is touched once, by the candidate generator. */
  private def q172(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val queries = e.where(col("vec_id") < 5)
    val cands = VectorFunctions.bruteForceTopK(e, queries, k = 20)
      .select(col("query_id"), col("neighbor_id").as("cand_id"), col("cos"))
      .persistT // consumed by pairSims AND every greedy round
    val ce = cands.select(col("query_id"), col("cand_id"))
      .join(e.select(col("vec_id").as("cand_id"), col("embedding")), Seq("cand_id"))
    val a = ce.select(col("query_id"), col("cand_id").as("a"), col("embedding").as("ea"))
    val b = ce.select(col("query_id"), col("cand_id").as("b"), col("embedding").as("eb"))
    val sims = a.join(b, Seq("query_id")).where(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        VectorFunctions.cosine(col("ea"), col("eb")).as("sim"))
    graft.sim.Mmr.rerank(cands, sims, rounds = 5, lambda = 0.5)
      .sortedOut("query_id", "sel_rank")
  }

  private val q172Sql = {
    val qcos = duckCos.format("q.q_emb", "c.embedding", "q.q_emb", "c.embedding")
    val pcos = duckCos.format("ex.embedding", "ey.embedding", "ex.embedding", "ey.embedding")
    val rounds = (2 to 5).map { r =>
      s"""ms$r AS (
         |  SELECT ps.query_id, ps.a AS cand_id, max(ps.sim) AS max_sim
         |  FROM ps JOIN selu${r - 1} s ON s.query_id = ps.query_id AND s.cand_id = ps.b
         |  GROUP BY 1, 2),
         |sc$r AS (
         |  SELECT c.query_id, c.cand_id,
         |         0.5 * c.cos - 0.5 * coalesce(m.max_sim, 0.0) AS score
         |  FROM cand c
         |  LEFT JOIN ms$r m ON m.query_id = c.query_id AND m.cand_id = c.cand_id
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s
         |                    WHERE s.query_id = c.query_id AND s.cand_id = c.cand_id)),
         |sel$r AS (SELECT query_id, cand_id, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) AS rn
         |    FROM sc$r) WHERE rn = 1),
         |selu$r AS (SELECT query_id, cand_id FROM selu${r - 1}
         |           UNION ALL SELECT query_id, cand_id FROM sel$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(r =>
      s"SELECT query_id, CAST($r AS INTEGER) AS sel_rank, cand_id, score FROM sel$r")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
       |cand AS MATERIALIZED (
       |  SELECT query_id, cand_id, cos FROM (
       |    SELECT q.query_id, c.vec_id AS cand_id, $qcos AS cos,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY $qcos DESC, c.vec_id) AS rk
       |    FROM q JOIN embeddings c ON c.vec_id <> q.query_id) WHERE rk <= 20),
       |ps AS MATERIALIZED (
       |  SELECT x.query_id, x.cand_id AS a, y.cand_id AS b, $pcos AS sim
       |  FROM cand x JOIN cand y ON y.query_id = x.query_id AND y.cand_id <> x.cand_id
       |  JOIN embeddings ex ON ex.vec_id = x.cand_id
       |  JOIN embeddings ey ON ey.vec_id = y.cand_id),
       |sel1 AS (SELECT query_id, cand_id, score FROM (
       |    SELECT query_id, cand_id, 0.5 * cos AS score,
       |           row_number() OVER (PARTITION BY query_id ORDER BY 0.5 * cos DESC, cand_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |selu1 AS (SELECT query_id, cand_id FROM sel1),
       |$rounds
       |$out
       |ORDER BY query_id, sel_rank""".stripMargin
  }

  // -------------- IVF probe-sweep recall curve (q176)
  /** recall@10 of the IVF index at nProbe ∈ {1, 2, 4} against the
    * exact top-10 — the ANN capacity-planning companion to q150's LSH
    * planner: how much recall each extra probed cell buys BEFORE
    * committing the index config (q94 measures one config; this
    * sweeps the knob). Panel-exact like q155/q156: the ideal lists
    * come from the brute-force pass; integer hit counts, one division
    * for the recall. Probes share semantics with q47's oracle shape.
    * At corpus scale the three probes hit a standing cell-partitioned
    * index (q85) instead of re-assigning — the counting is unchanged. */
  private def q176(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val queries = e.where(col("vec_id") < 10)
    val k = 10
    val ideal = VectorFunctions.bruteForceTopK(e, queries, k)
      .select(col("query_id"), col("neighbor_id")).persistT
    val nIdeal = ideal.count() // action also materializes the persist
    val curves = Seq(1, 2, 4).map { p =>
      new graft.sim.IvfIndex(nCells = 16, nProbe = p).annTopK(e, queries, k)
        .select(col("query_id"), col("neighbor_id"))
        .join(ideal, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(p).as("n_probe"), lit(nIdeal).as("n_ideal"), col("n_hits"))
    }
    curves.reduce(_ unionByName _)
      .withColumn("recall",
        col("n_hits").cast(DoubleType) / col("n_ideal").cast(DoubleType))
      .sortedOut("n_probe")
  }

  private val q176Sql = {
    val qcos = duckCos.format("q.q_emb", "c.embedding", "q.q_emb", "c.embedding")
    val ccos = duckCos.format("e.embedding", "c.centroid", "e.embedding", "c.centroid")
    val acos = duckCos.format("q.q_emb", "a.embedding", "q.q_emb", "a.embedding")
    val arms = Seq(1, 2, 4).map { p =>
      s"""SELECT $p AS n_probe, (SELECT n FROM nideal) AS n_ideal,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (
         |     SELECT query_id, neighbor_id FROM (
         |       SELECT q.query_id, a.vec_id AS neighbor_id,
         |              row_number() OVER (PARTITION BY q.query_id
         |                ORDER BY $acos DESC, a.vec_id) AS rank
         |       FROM (SELECT query_id, q_emb, cell FROM qprobe WHERE rn <= $p) q
         |       JOIN assign a USING (cell)
         |       WHERE a.vec_id <> q.query_id)
         |     WHERE rank <= 10) ann
         |   WHERE EXISTS (SELECT 1 FROM ideal i
         |                 WHERE i.query_id = ann.query_id
         |                   AND i.neighbor_id = ann.neighbor_id)) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       |ideal AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY $qcos DESC, c.vec_id) AS rank
       |    FROM q JOIN embeddings c ON c.vec_id <> q.query_id) WHERE rank <= 10),
       |nideal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ideal),
       |centroids AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < 16),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY $ccos DESC, c.cell) AS rn
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rn = 1),
       |qprobe AS MATERIALIZED (
       |  SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${duckCos.format("e.embedding", "c.centroid", "e.embedding", "c.centroid")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN centroids c WHERE e.vec_id < 10)
       |SELECT n_probe, n_ideal, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_ideal AS DOUBLE) AS recall
       |FROM ($arms)
       |ORDER BY n_probe""".stripMargin
  }

  // --------------------- matryoshka prefix-dim retrieval eval (q193)
  /** Matryoshka-representation evaluation — the dimension-truncation
    * question every embedding-storage budget asks: how much retrieval
    * quality survives if only the first 8/16/32 of 64 dims are kept
    * (MRL-style prefix truncation)? For each prefix width the
    * brute-force top-5 under PREFIX cosine is compared against the
    * full-dim top-5: overlap@5 and top-1 agreement, aggregated over
    * the q32 query cohort. Exactly oracle-able because the cosine is
    * the same left-to-right float→double fold both engines already
    * pin (q32) applied to `slice(embedding, 1, w)` — no fp contract
    * tricks needed.
    *
    * Scale shape: the corpus side is never widened — each arm is the
    * q32 broadcast-queries pattern on a NARROWER vector; overlap joins
    * are |queries|·k-row. At index scale the same eval plugs into the
    * IVF/PQ probes (q94/q101) unchanged: only the slice differs. */
  private def q193(s: SparkSession, d: String): DataFrame = {
    // r17: one parquet scan feeds all four arms' corpus AND query
    // sides (the vector-array decode was paid 8x otherwise)
    val e = emb(s, d).persistT
    e.count()
    def topk(width: Int): DataFrame = {
      val sub =
        if (width >= 64) e
        else e.select(col("vec_id"), slice(col("embedding"), 1, width).as("embedding"))
      VectorFunctions.bruteForceTopK(sub, sub.where(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }
    // r17: materialize the full-dim reference EAGERLY (eight subtrees
    // of the one final action read it — left lazy they race to fill
    // the cache and the brute pass recomputes), reuse it as the
    // 64-arm's candidate list (topk(64) IS full by construction — same
    // deterministic total order), and BROADCAST the |queries|·k-row
    // frames into every overlap join: the post-aggregation size
    // estimates otherwise planned 12 SortMergeJoins (24 exchanges +
    // sorts) over <= 50-row frames.
    val full = topk(64).persistT
    full.count()
    def arm(width: Int): DataFrame = {
      val t = if (width >= 64) full else topk(width)
      val ov = t.join(broadcast(full.select(col("query_id"), col("neighbor_id"))),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("ov"))
      val t1 = t.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("p1"))
        .join(broadcast(full.where(col("rank") === 1)
          .select(col("query_id"), col("neighbor_id").as("f1"))), Seq("query_id"))
        .select(col("query_id"), when(col("p1") === col("f1"), 1L).otherwise(0L).as("t1"))
      t1.join(broadcast(ov), Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("ov"), lit(0L))).as("n_overlap_top5"),
          sum(col("t1")).as("n_top1_match"))
        .select(lit(width).as("dim"), col("n_queries"),
          col("n_overlap_top5"), col("n_top1_match"))
    }
    arm(8).unionByName(arm(16)).unionByName(arm(32)).unionByName(arm(64))
      .sortedOut("dim")
  }

  private val q193Sql = {
    def cosW(w: Int) =
      if (w >= 64) duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
      else duckCos.format(s"q.embedding[1:$w]", s"c.embedding[1:$w]",
        s"q.embedding[1:$w]", s"c.embedding[1:$w]")
    def topk(w: Int) =
      s"""SELECT query_id, rank, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosW(w)} DESC, c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10) WHERE rank <= 5""".stripMargin
    def arm(w: Int) =
      s"""SELECT $w AS dim, CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(ov) AS BIGINT) AS n_overlap_top5,
         |  CAST(sum(t1) AS BIGINT) AS n_top1_match
         |FROM (
         |  SELECT p.query_id,
         |    (SELECT count(*) FROM p2 x JOIN f2 y
         |       ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id
         |     WHERE x.query_id = p.query_id AND x.w = $w) AS ov,
         |    CASE WHEN p.neighbor_id = f.neighbor_id THEN 1 ELSE 0 END AS t1
         |  FROM p2 p JOIN f2 f ON p.query_id = f.query_id
         |  WHERE p.rank = 1 AND f.rank = 1 AND p.w = $w)""".stripMargin
    val prefixArms = Seq(8, 16, 32, 64)
      .map(w => s"SELECT $w AS w, * FROM (${topk(w)})").mkString("\nUNION ALL\n")
    s"""WITH p2 AS MATERIALIZED ($prefixArms),
       |f2 AS MATERIALIZED (SELECT query_id, rank, neighbor_id FROM p2 WHERE w = 64)
       |SELECT * FROM (
       |${Seq(8, 16, 32, 64).map(arm).mkString("\nUNION ALL\n")}
       |) u ORDER BY dim""".stripMargin
  }

  // --------------------- binary-quantization retrieval eval (q195)
  /** The 1-BIT member of the quantization family (PQ q78, SQ8 q167,
    * matryoshka q193): sign-quantize each 64-dim embedding into two
    * packed 32-bit words (unrolled shift/or terms — codegen, no HOF),
    * retrieve by Hamming distance (`bit_count(xor)` — pure builtins
    * on both engines), and score the 64x-compressed ranking against
    * full-precision cosine top-5: overlap@5, top-1 agreement, and the
    * summed top-5 Hamming mass. Integer distances make ranking and
    * oracle exact — ties break on vec_id, deterministically on both
    * engines.
    *
    * Scale shape: 8 bytes per vector through the candidate join
    * (the SimHash pigeonhole trick applies unchanged for sub-linear
    * retrieval); the eval itself is the q193 broadcast-cohort shape. */
  private def q195(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    def packWord(off: Int): Column =
      (0 until 32).map(i =>
        when(element_at(col("embedding"), off + i + 1) > 0f, 1L << i)
          .otherwise(0L)).reduce(_ bitwiseOR _)
    val packed = e.select(col("vec_id"),
      packWord(0).as("lo"), packWord(32).as("hi"))
    // limit = the planLint bounded-cohort proof (bruteForceTopK's
    // contract applied to the packed cohort): maxRows becomes static
    val q = broadcast(packed.where(col("vec_id") < 10).limit(4096)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi")))
    val ham = packed.crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).cast(LongType).as("hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val bqTop = ham.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
    val full = VectorFunctions.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id")).persistT
    val ov = bqTop.join(full.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("ov"))
    bqTop.where(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("b1"), col("hamming"))
      .join(full.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("f1")), Seq("query_id"))
      .join(ov, Seq("query_id"), "left")
      .join(bqTop.groupBy("query_id").agg(sum(col("hamming")).as("hsum")), Seq("query_id"))
      .agg(count(lit(1)).as("n_queries"),
        sum(coalesce(col("ov"), lit(0L))).as("n_overlap_top5"),
        sum(when(col("b1") === col("f1"), 1L).otherwise(0L)).as("n_top1_match"),
        sum(col("hsum")).as("sum_hamming_top5"))
  }

  private val q195Sql = {
    def packWord(off: Int) =
      s"""CAST(list_sum(list_transform(range(1, 33),
         |  i -> CASE WHEN embedding[i + $off] > 0 THEN 2 ** (i - 1) ELSE 0 END)) AS BIGINT)""".stripMargin
    val cosFull = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    s"""WITH packed AS MATERIALIZED (
       |  SELECT vec_id, ${packWord(0)} AS lo, ${packWord(32)} AS hi FROM embeddings),
       |bq AS (SELECT * FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)), c.vec_id) AS rank
       |  FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10) WHERE rank <= 5),
       |full_ AS (SELECT * FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $cosFull DESC, c.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10) WHERE rank <= 5),
       |per AS (SELECT b1.query_id,
       |    (SELECT count(*) FROM bq x JOIN full_ y
       |       ON x.query_id = y.query_id AND x.neighbor_id = y.neighbor_id
       |     WHERE x.query_id = b1.query_id) AS ov,
       |    CASE WHEN b1.neighbor_id = f1.neighbor_id THEN 1 ELSE 0 END AS t1,
       |    (SELECT sum(hamming) FROM bq h WHERE h.query_id = b1.query_id) AS hsum
       |  FROM bq b1 JOIN full_ f1 ON b1.query_id = f1.query_id
       |  WHERE b1.rank = 1 AND f1.rank = 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(ov) AS BIGINT) AS n_overlap_top5,
       |  CAST(sum(t1) AS BIGINT) AS n_top1_match,
       |  CAST(sum(hsum) AS BIGINT) AS sum_hamming_top5
       |FROM per""".stripMargin
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q32_knn_cosine_brute",  q32 _, Some(q32Sql)),
    ("q33_cosine_adjacent",   q33 _, Some(q33Sql)),
    ("q34_ann_lsh_topk",      q34 _, Some(q34Sql)),
    ("q35_label_centroid_sum", q35 _, Some(q35Sql)),
    ("q58_cosine_neardup",    q58 _, Some(q58Sql)),
    ("q78_pq_ann_topk",       q78 _, Some(q78Sql)),
    ("q84_ivfpq_ann_topk",    q84 _, Some(q84Sql)),
    ("q87_pq_index_topk",     q87 _, Some(q84Sql)),
    ("q302_pq_retract_probe", q302 _, Some(q302Sql)),
    ("q88_embed_corpus_dedup", q88 _, Some(q88Sql)),
    ("q92_hybrid_rrf",        q92 _, Some(q92Sql)),
    ("q94_ann_recall",        q94 _, Some(q94Sql)),
    ("q101_ann_mrr",          q101 _, Some(q101Sql)),
    ("q107_semantic_dedup",   q107 _, Some(q107Sql)),
    ("q114_sq8_ann_topk",     q114 _, Some(q114Sql)),
    ("q118_centroid_classify", q118 _, Some(q118Sql)),
    ("q126_semantic_decontam", q126 _, Some(q126Sql)),
    ("q129_hard_negatives",    q129 _, Some(q129Sql)),
    ("q137_principal_component", q137 _, Some(q137Sql)),
    ("q138_bitext_margin",     q138 _, Some(q138Sql)),
    ("q144_embedding_drift",   q144 _, Some(q144Sql)),
    ("q155_ann_ndcg",          q155 _, Some(q155Sql)),
    ("q156_hubness",           q156 _, Some(q156Sql)),
    ("q162_robust_scaling",    q162 _, Some(q162Sql)),
    ("q167_cell_balanced_sample", q167 _, Some(q167Sql)),
    ("q168_filtered_ann",      q168 _, Some(q168Sql)),
    ("q172_mmr_rerank",        q172 _, Some(q172Sql)),
    ("q176_ivf_probe_curve",   q176 _, Some(q176Sql)),
    ("q193_matryoshka_eval",   q193 _, Some(q193Sql)),
    ("q195_binary_quant_eval", q195 _, Some(q195Sql)),
    ("q241_knn_label_noise",   q241 _, Some(q241Sql)))

  // ------- kNN label-noise screen (q241)
  /** The label-QUALITY member of the eval tripod (recall q94 / MRR
    * q155 / hubness q156): for a 100-query cohort, each vector's 5
    * nearest neighbors vote on its label — a point whose neighborhood
    * disagrees (minority agreement, n_same·2 < k) is a mislabeled-
    * or boundary-sample candidate, the standard confident-learning
    * screen a labeled corpus runs before training. Brute cosine
    * ([[VectorFunctions.bruteForceTopK]] — statically bounded cohort,
    * loud overflow) keeps it exactly oracle-able; the indexed paths
    * (q85/q87) scale the same vote to full-corpus sweeps.
    *
    * Scale shape: the corpus streams once against the broadcast
    * cohort; label attachment is one equi-join per side; the vote is
    * a per-query fold over k rows. */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val nn = VectorFunctions.bruteForceTopK(e, e.where(col("vec_id") < 100), k = 5)
    nn.join(e.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        Seq("neighbor_id"))
      .join(broadcast(e.where(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"))),
        Seq("query_id"))
      .groupBy(col("query_id"), col("q_label").as("label"))
      .agg(count(lit(1)).as("k_found"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("is_suspect", col("n_same") * 2 < col("k_found"))
      .sortedOut("query_id")
  }

  private lazy val q241Sql = {
    val cos = duckCos.format("q.embedding", "c.embedding", "q.embedding", "c.embedding")
    s"""WITH nn AS (
       |  SELECT query_id, q_label, n_label FROM (
       |    SELECT q.vec_id AS query_id, q.label AS q_label, c.label AS n_label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 100 AND NOT isnan($cos))
       |  WHERE rank <= 5)
       |SELECT query_id, q_label AS label,
       |  CAST(count(*) AS BIGINT) AS k_found,
       |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       |  CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) * 2 < count(*) AS BOOLEAN) AS is_suspect
       |FROM nn GROUP BY 1, 2 ORDER BY query_id""".stripMargin
  }
}
