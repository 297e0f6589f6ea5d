package graft.queries

import graft.ops.TrackedCache.TrackOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dedup.Dedup
import graft.text.{Hashing, TextFunctions}

/** Text wave, dedup half (q23-q150 range): exact/MinHash/SimHash/
  * winnowing dedup, quality+redaction, calibration - split out of the
  * former TextQueries mega-file (VERDICT r11 #6); query names, bodies,
  * and oracles are unchanged.
  */
object TextDedupQueries {
  import ParityQueries.{Q, SortedOutOps}
  import TextShared._

  // ------------------------------------------------------- exact dedup
  // Group-level output (one row per duplicated hash, a small fraction of the
  // corpus) stays on the single-pass sortedOut: a range sort's boundary
  // sampling would re-execute the aggregation subtree (PlanShapeSpec pin).
  private def q23(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(docs0(s, d)).sortedOut("text_hash")

  private val q23Sql =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  // ------------------------------------------------------ token count
  private def q24(s: SparkSession, d: String): DataFrame =
    docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .sortedOutWide("doc_id")

  private val q24Sql =
    """SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- quality score
  private def q25(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val nonSpace = TextFunctions.nonSpaceChars(col("text"))
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    docs0(s, d).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        (nonSpace / nTok).as("avg_token_len"),
        (stopHits / nTok).as("stop_ratio"),
        (nTok >= 5 && (stopHits / nTok) <= lit(0.5)).as("is_quality"))
      .sortedOutWide("doc_id")
  }

  private val q25Sql =
    """SELECT doc_id,
      | CAST(len(toks) AS INTEGER) AS n_tokens,
      | length(regexp_replace(text, '\s', '', 'g')) / len(toks) AS avg_token_len,
      | len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) / len(toks) AS stop_ratio,
      | (len(toks) >= 5 AND len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) / len(toks) <= 0.5) AS is_quality
      |FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- corpus statistics
  private def q26(s: SparkSession, d: String): DataFrame =
    docs0(s, d)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
           sum(col("n_chars")).as("sum_chars"),
           min(col("doc_id")).as("min_doc"),
           max(col("doc_id")).as("max_doc"))
      .sortedOut("lang", "source")

  private val q26Sql =
    """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      | min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ----------------------------------------------------- language ID
  private def q27(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val hits = TextFunctions.LangMarkers.map { case (lang, words) =>
      TextFunctions.hitCount(toks, words).as(s"${lang}_hits")
    }
    docs0(s, d).select(
        Seq(col("doc_id")) ++ hits ++ Seq(
          TextFunctions.langId(toks).as("pred_lang"), col("lang")): _*)
      .sortedOutWide("doc_id")
  }

  private val q27Sql =
    """SELECT doc_id,
      | CAST(len(list_filter(toks, t -> t IN ('the','a','is'))) AS INTEGER) AS en_hits,
      | CAST(len(list_filter(toks, t -> t IN ('data','row','table'))) AS INTEGER) AS es_hits,
      | CAST(len(list_filter(toks, t -> t IN ('join','merge','hash'))) AS INTEGER) AS de_hits,
      | CASE WHEN len(list_filter(toks, t -> t IN ('the','a','is'))) >= len(list_filter(toks, t -> t IN ('data','row','table')))
      |       AND len(list_filter(toks, t -> t IN ('the','a','is'))) >= len(list_filter(toks, t -> t IN ('join','merge','hash')))
      |      THEN 'en'
      |      WHEN len(list_filter(toks, t -> t IN ('data','row','table'))) >= len(list_filter(toks, t -> t IN ('join','merge','hash')))
      |      THEN 'es' ELSE 'de' END AS pred_lang,
      | lang
      |FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------- n-gram Jaccard (adjacent ids)
  /** Exact token-set Jaccard between each doc and its successor —
    * pins the similarity arithmetic against the oracle; the scalable
    * pair *generation* is LSH (q29/q30), whose hashes DuckDB lacks. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val a = docs0(s, d).select(col("doc_id").as("doc_a"),
      array_distinct(TextFunctions.tokens(col("text"))).as("ta"))
    val b = docs0(s, d).select(col("doc_id").as("doc_b"),
      array_distinct(TextFunctions.tokens(col("text"))).as("tb"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ta"), col("tb"))) /
         size(array_union(col("ta"), col("tb")))).as("jaccard"))
      .sortedOutWide("doc_a")
  }

  private val q28Sql =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | len(list_intersect(a.toks, b.toks)) / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
      |FROM (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents) a
      |JOIN (SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks FROM documents) b
      |  ON b.doc_id = a.doc_id + 1
      |ORDER BY doc_a""".stripMargin

  // --------------------------------------- MinHash LSH candidate pairs
  // 4 bands × 8 rows: collision probability j^8 per band keeps the
  // candidate set near-linear even on corpora with heavy vocabulary
  // overlap (this fixture's docs all share ~40 tokens — loose bands
  // would make every pair a candidate, an O(n²) blow-up at scale).
  //
  // Exactly oracled: the whole pipeline runs on the engine-wide md5-60
  // hash (graft.text.Hashing), which DuckDB reproduces bit-for-bit —
  // the SQL below re-derives signatures, banding, the bucket cap, and
  // the position-agreement estimate from scratch.
  // Pair-level output (bucketCap-bounded candidate pairs) stays on the
  // single-pass sortedOut: range-sort boundary sampling would run the LSH
  // banding join twice (PlanShapeSpec pin).
  private def q29(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidatePairs(Dedup.minhashSignatures(docs0(s, d), k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
      .sortedOut("doc_a", "doc_b")

  private val q29Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)}
       |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------- SimHash fingerprint
  private def q30(s: SparkSession, d: String): DataFrame =
    Dedup.simhash(docs0(s, d)).sortedOutWide("doc_id")

  private val q30Sql =
    """WITH t AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
      |bits AS (
      |  SELECT doc_id, b,
      |         CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |              THEN (1::BIGINT << b) ELSE 0 END AS bv
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bit
      |  GROUP BY doc_id, b)
      |SELECT doc_id, CAST(sum(bv) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------- winnowing fingerprints
  private def q31(s: SparkSession, d: String): DataFrame =
    docs0(s, d).select(col("doc_id"),
        TextFunctions.winnowFingerprints(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        array_min(col("fp")).as("min_fp"), array_max(col("fp")).as("max_fp"))
      .sortedOutWide("doc_id")

  // k=8, w=4 mirror of WinnowFingerprint: char k-gram md5-60 hashes,
  // rolling window-of-4 minimum, fingerprint set = distinct mins (plus
  // the degenerate short-text branches).
  private val q31Sql =
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |short AS (
      |  SELECT doc_id, CAST(1 AS INTEGER) AS n_fp,
      |         CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS min_fp,
      |         CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS max_fp
      |  FROM d WHERE n < 8),
      |grams AS (
      |  SELECT doc_id, unnest(range(1, n - 8 + 2)) AS i, text
      |  FROM d WHERE n >= 8),
      |gh AS (
      |  SELECT doc_id, i,
      |         CAST(concat('0x', substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15)) AS BIGINT) AS h
      |  FROM grams),
      |wm AS (
      |  SELECT doc_id, i, h,
      |         min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
      |         count(*) OVER (PARTITION BY doc_id) AS m
      |  FROM gh),
      |sel AS (
      |  SELECT doc_id, CASE WHEN m < 4 THEN h ELSE wmin END AS v
      |  FROM wm WHERE m < 4 OR i <= m - 3),
      |fps AS (
      |  SELECT doc_id, CAST(count(DISTINCT v) AS INTEGER) AS n_fp,
      |         min(v) AS min_fp, max(v) AS max_fp
      |  FROM sel GROUP BY doc_id)
      |SELECT doc_id, n_fp, min_fp, max_fp FROM fps
      |UNION ALL
      |SELECT doc_id, n_fp, min_fp, max_fp FROM short
      |ORDER BY doc_id""".stripMargin

  // --------------------------------- end-to-end near-dup deduplication
  /** The full dedup pipeline: minhash → LSH candidates → clusters →
    * surviving corpus, reported as kept/dropped counts. Exactly oracled:
    * the SQL recomputes the candidate pairs (md5-60 pipeline) and
    * resolves connected components with a recursive transitive closure —
    * survivor-per-cluster = component min, same as the union-find. */
  private def q48(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.9)
    val kept = Dedup.dedupByClusters(docs, Dedup.nearDupClusters(pairs))
    import org.apache.spark.sql.functions.{count, lit}
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(docs.agg(count(lit(1)).as("n_total")))
  }

  private val q48Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()}
       |SELECT
       |  CAST((SELECT count(*) FROM documents) - (SELECT count(*) FROM nodes)
       |       + (SELECT count(DISTINCT cluster) FROM labels) AS BIGINT) AS n_kept,
       |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_total""".stripMargin

  // --------------------------------------- incremental corpus dedup
  /** The production dedup shape: documents split into a standing
    * CORPUS (19 of every 20 docs) and an arriving BATCH (doc_id % 20
    * == 0, 5%); the batch is deduped against the corpus signature
    * index, then within itself. corpus >> batch at EVERY sf — the r3
    * split (corpus = doc_id < 250) inverted at sf0.1, where the
    * "batch" was 95% of the table and the within-batch self-join
    * dominated, which is not the shape this operator exists to
    * demonstrate. Exactly oracled end-to-end (md5-60 pipeline +
    * recursive components). */
  private def q57(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val batch = docs.where(col("doc_id") % 20 === 0)
    // hash the WHOLE table once and split the signature table — one
    // explode+aggregate instead of two (the oracle does the same); in
    // production corpusSigs is a standing materialized index instead.
    // Unpersist falls to the ContextCleaner (plan is returned lazily).
    // Materialized EAGERLY (the r13 variance autopsy): every downstream
    // consumer — both probe sides and the survivor anti join — then
    // plans against the same fully-built cache with exact stats, so
    // AQE's broadcast decisions cannot differ run to run with the
    // fill state the first consumer left the cache in.
    val sigs = Dedup.minhashSignatures(docs, k = 32).persistT
    sigs.count()
    // persistInputs=false: both probe sides are filters of the one
    // persisted table above — re-persisting them only stacked extra
    // materialization barriers (the r3 bench-variance finding)
    val kept = Dedup.dedupIncrementalSigs(batch,
      sigs.where(col("doc_id") % 20 === 0), sigs.where(col("doc_id") % 20 =!= 0),
      bands = 4, rowsPerBand = 8, minEst = 0.9, persistInputs = false)
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
  }

  private val q57Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |bb AS (SELECT * FROM banded WHERE doc_id % 20 != 0),
       |ba AS (SELECT * FROM banded WHERE doc_id % 20 = 0),
       |szb AS (SELECT b, bh, count(*) AS n, min(doc_id) AS anchor FROM bb GROUP BY b, bh),
       |smallb AS (SELECT b, bh FROM szb WHERE n <= 1000),
       |candc AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM ba x JOIN (SELECT bb.* FROM bb JOIN smallb USING (b, bh)) y USING (b, bh)
       |    UNION ALL
       |    SELECT x.doc_id AS doc_a, szb.anchor AS doc_b
       |    FROM ba x JOIN szb USING (b, bh) WHERE szb.n > 1000)),
       |estc AS (
       |  SELECT doc_a,
       |         CAST(list_sum(list_transform(range(1, 33), j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS e
       |  FROM candc JOIN sigs sa ON sa.doc_id = candc.doc_a JOIN sigs sb ON sb.doc_id = candc.doc_b),
       |dup AS (SELECT DISTINCT doc_a AS doc_id FROM estc WHERE e >= 0.9),
       |surv AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0
       |         AND doc_id NOT IN (SELECT doc_id FROM dup)),
       |bs AS (SELECT banded.* FROM banded JOIN surv USING (doc_id)),
       |szs AS (SELECT b, bh, count(*) AS n, min(doc_id) AS anchor FROM bs GROUP BY b, bh),
       |smalls AS (SELECT b, bh FROM szs WHERE n <= 1000),
       |safes AS (SELECT bs.* FROM bs JOIN smalls USING (b, bh)),
       |cands AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM safes x JOIN safes y USING (b, bh) WHERE x.doc_id < y.doc_id
       |    UNION ALL
       |    SELECT szs.anchor AS doc_a, bs.doc_id AS doc_b
       |    FROM bs JOIN szs USING (b, bh)
       |    WHERE szs.n > 1000 AND bs.doc_id != szs.anchor)),
       |p AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |           CAST(list_sum(list_transform(range(1, 33), j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS e
       |    FROM cands JOIN sigs sa ON sa.doc_id = cands.doc_a JOIN sigs sb ON sb.doc_id = cands.doc_b) z
       |  WHERE e >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()}
       |SELECT
       |  CAST((SELECT count(*) FROM surv) - (SELECT count(*) FROM nodes)
       |       + (SELECT count(DISTINCT cluster) FROM labels) AS BIGINT) AS n_kept,
       |  CAST((SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS BIGINT) AS n_batch""".stripMargin

  // ------------------------------ deterministic stratified sampling
  /** Reproducible training-data subsampling: per-language sample of
    * the 10 smallest doc_id hashes (partitioning-independent, unlike
    * rand()-based sample()) plus a global 20% Bernoulli hash sample
    * count. Exactly oracled — determinism IS the point. */
  private def q62(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val strat = graft.ops.Sampling.stratifiedSample(docs, col("lang"), col("doc_id"), k = 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_doc"),
           sum(col("doc_id")).as("sum_doc"))
    val global = graft.ops.Sampling.hashSample(docs, col("doc_id"), 0.2)
      .agg(count(lit(1)).as("n_global"))
    strat.crossJoin(global).orderBy("lang")
  }

  private val q62Sql = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    val frac = (0.2 * (1L << 60).toDouble).toLong
    s"""WITH ranked AS (
       |  SELECT lang, doc_id,
       |         row_number() OVER (PARTITION BY lang ORDER BY $h, CAST(doc_id AS VARCHAR)) AS rn
       |  FROM documents),
       |strat AS (
       |  SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc,
       |         CAST(sum(doc_id) AS BIGINT) AS sum_doc
       |  FROM ranked WHERE rn <= 10 GROUP BY lang),
       |gsamp AS (SELECT count(*) AS n_global FROM documents WHERE $h < $frac)
       |SELECT lang, n_sampled, min_doc, sum_doc, n_global
       |FROM strat CROSS JOIN gsamp ORDER BY lang""".stripMargin
  }

  // ------------------------------------ n-gram similarity join (J2+)
  /** The "proper similarity matching" extension of the reference's
    * exact name-equality join (J2): char-3-gram Jaccard self-join over
    * document title lines (first 60 chars), inverted-index shaped with
    * a gram-frequency cap as the skew guard — no cross join. Exactly
    * oracled (pure set arithmetic, no hashes involved). */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d).select(col("doc_id"), substring(col("text"), 1, 60).as("nm"))
    graft.ops.RelationalOps.similarityJoin(
        docs, "doc_id", "nm", docs, "doc_id", "nm",
        minJaccard = 0.6, gramN = 3, gramCap = 600)
      .where(col("l_id") < col("r_id"))
      .sortedOutWide("l_id", "r_id")
  }

  private val q56Sql =
    """WITH d AS (SELECT doc_id, substr(text, 1, 60) AS nm FROM documents),
      |g AS (
      |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(nm)-2, 1) + 1),
      |    i -> substr(lower(nm), CAST(i AS INTEGER), 3)))) AS gram FROM d),
      |rare AS (SELECT gram FROM (SELECT gram FROM g UNION ALL SELECT gram FROM g) u
      |         GROUP BY gram HAVING count(*) <= 600),
      |gr AS (SELECT g.* FROM g JOIN rare USING (gram)),
      |sz AS (SELECT id, count(*) AS n FROM gr GROUP BY id),
      |pairs AS (SELECT a.id AS l_id, b.id AS r_id, count(*) AS shared
      |          FROM gr a JOIN gr b USING (gram) WHERE a.id < b.id GROUP BY a.id, b.id)
      |SELECT l_id, r_id, CAST(shared AS DOUBLE)/(la.n + lb.n - shared) AS jaccard
      |FROM pairs JOIN sz la ON la.id = l_id JOIN sz lb ON lb.id = r_id
      |WHERE CAST(shared AS DOUBLE)/(la.n + lb.n - shared) >= 0.6
      |ORDER BY l_id, r_id""".stripMargin

  // ------------------------------------- corpus curation (capstone)
  /** The end-to-end LLM training-data curation pipeline in one query:
    * quality filter (q25's contract) → exact dedup (min-id survivor)
    * → MinHash/LSH near-dup dedup (q48's machinery) → per-language
    * corpus counts. Every stage rides the md5-60 hash family, so the
    * whole composition is exactly oracled. */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val toks = TextFunctions.tokens(col("text"))
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    val quality = docs.where(size(toks) >= 5 && (stopHits / size(toks)) <= lit(0.5))
    val exactKeep = quality.join(
      Dedup.exactGroups(quality).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(exactKeep, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.9)
    val kept = Dedup.dedupByClusters(exactKeep, Dedup.nearDupClusters(pairs))
    kept.groupBy("lang").agg(count(lit(1)).as("n_docs")).sortedOut("lang")
  }

  private val q60Sql =
    s"""WITH qual AS (
      |  SELECT * FROM (
      |    SELECT d.*, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents d) x
      |  WHERE len(tk) >= 5
      |    AND len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is'))) / len(tk) <= 0.5),
      |exact_keep AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY text),
      |cur AS (SELECT qual.* FROM qual JOIN exact_keep USING (doc_id)),
      |toks AS (SELECT DISTINCT doc_id, unnest(tk) AS tok FROM cur),
      |hs AS (
      |  SELECT doc_id, i,
      |         min(CAST(concat('0x', substr(md5(concat(i // 4, ':', tok)), (i % 4) * 7 + 1, 7)) AS BIGINT)) AS h
      |  FROM toks CROSS JOIN (SELECT unnest(range(32)) AS i) perm
      |  GROUP BY doc_id, i),
      |sigs AS MATERIALIZED (SELECT doc_id, list(h ORDER BY i) AS sig FROM hs GROUP BY doc_id),
      |banded AS MATERIALIZED (
      |  SELECT doc_id, b,
      |         CAST(concat('0x', substr(md5(concat(b, ':', array_to_string(sig[b*8+1 : b*8+8], ','))), 1, 15)) AS BIGINT) AS bh
      |  FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS b) bnd),
      |sized AS (SELECT b, bh, count(*) AS n, min(doc_id) AS anchor FROM banded GROUP BY b, bh),
      |small AS (SELECT b, bh FROM sized WHERE n <= 1000),
      |safe AS (SELECT banded.doc_id, banded.b, banded.bh FROM banded JOIN small USING (b, bh)),
      |cand AS (
      |  SELECT DISTINCT doc_a, doc_b FROM (
      |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      |    FROM safe x JOIN safe y USING (b, bh) WHERE x.doc_id < y.doc_id
      |    UNION ALL
      |    SELECT sized.anchor AS doc_a, banded.doc_id AS doc_b
      |    FROM banded JOIN sized USING (b, bh)
      |    WHERE sized.n > 1000 AND banded.doc_id != sized.anchor)),
      |p AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b,
      |           CAST(list_sum(list_transform(range(1, 33), j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS e
      |    FROM cand JOIN sigs sa ON sa.doc_id = cand.doc_a JOIN sigs sb ON sb.doc_id = cand.doc_b) z
      |  WHERE e >= 0.9),
      |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
      |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
      |${componentLabelCtes()},
      |kept AS (
      |  SELECT doc_id FROM cur WHERE doc_id NOT IN (SELECT doc_id FROM nodes)
      |  UNION ALL
      |  SELECT doc_id FROM labels WHERE cluster = doc_id)
      |SELECT lang, count(*) AS n_docs
      |FROM cur JOIN kept USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------- BM25 top-k (q63)
  /** BM25 relevance of every document against a fixed three-term query
    * ("join stream vector"): Robertson idf ln(1 + (N-df+0.5)/(df+0.5)),
    * k1 = 1.2, b = 0.75, summed per term in a fixed order.
    *
    * Scale shape: tf and doclen are narrow per-row projections; corpus
    * stats (N, Σlen, the three dfs) are ONE single-row aggregate
    * broadcast back; top-20 plans as TakeOrderedAndProject — no global
    * sort shuffle at any size.
    *
    * Oracle note: ln() is only 1-ulp reproducible across engines, so
    * the double score itself is not hashable. The fixture's adjacent
    * top-30 score gaps are ≥ 3e-5 at both sf0.001 and sf0.01 (measured)
    * — vastly above ulp noise — so the RANKING is engine-stable; the
    * query outputs only the integer columns of the top-20 rows. */
  private def q63(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("join", "stream", "vector")
    val toks = TextFunctions.tokens(col("text"))
    // tf feeds the stats aggregate AND the scoring projection —
    // persist, or the tokenize+count scan runs twice (unpersist falls
    // to the ContextCleaner; the frame is (id, 4 ints) per doc)
    val tf = docs0(s, d).select(
      col("doc_id") +: size(toks).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(toks, x => x === lit(t))).as(s"tf$i") }: _*)
      .persistT
    val stats = tf.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_len"),
      count(when(col("tf0") > 0, 1)).as("df0"),
      count(when(col("tf1") > 0, 1)).as("df1"),
      count(when(col("tf2") > 0, 1)).as("df2"))
    // one BM25 term — the shared tree (TextFunctions.bm25Part) q113's
    // standing-index probe must reproduce bit-for-bit
    def part(tfc: Column, dfc: Column): Column =
      TextFunctions.bm25Part(tfc, dfc, col("dl"), col("n_docs"), col("sum_len"))
    val score = part(col("tf0"), col("df0")) +
      part(col("tf1"), col("df1")) + part(col("tf2"), col("df2"))
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        col("tf0").as("tf_join"), col("tf1").as("tf_stream"),
        col("tf2").as("tf_vector"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .drop("score")
  }

  private val q63Sql =
    """SELECT doc_id, n_tokens, tf_join, tf_stream, tf_vector FROM (
      |  WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |  tf AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
      |           CAST(len(list_filter(tk, t -> t = 'join')) AS INTEGER) AS tf_join,
      |           CAST(len(list_filter(tk, t -> t = 'stream')) AS INTEGER) AS tf_stream,
      |           CAST(len(list_filter(tk, t -> t = 'vector')) AS INTEGER) AS tf_vector
      |         FROM d),
      |  st AS (SELECT count(*) AS n_docs, sum(n_tokens) AS sum_len,
      |           count(CASE WHEN tf_join > 0 THEN 1 END) AS df0,
      |           count(CASE WHEN tf_stream > 0 THEN 1 END) AS df1,
      |           count(CASE WHEN tf_vector > 0 THEN 1 END) AS df2
      |         FROM tf)
      |  SELECT doc_id, n_tokens, tf_join, tf_stream, tf_vector,
      |      ln(CAST(n_docs - df0 + 0.5 AS DOUBLE)/CAST(df0 + 0.5 AS DOUBLE) + 1.0)*tf_join*2.2/(tf_join + 1.2*(0.25 + 0.75*(n_tokens*n_docs)/CAST(sum_len AS DOUBLE)))
      |    + ln(CAST(n_docs - df1 + 0.5 AS DOUBLE)/CAST(df1 + 0.5 AS DOUBLE) + 1.0)*tf_stream*2.2/(tf_stream + 1.2*(0.25 + 0.75*(n_tokens*n_docs)/CAST(sum_len AS DOUBLE)))
      |    + ln(CAST(n_docs - df2 + 0.5 AS DOUBLE)/CAST(df2 + 0.5 AS DOUBLE) + 1.0)*tf_vector*2.2/(tf_vector + 1.2*(0.25 + 0.75*(n_tokens*n_docs)/CAST(sum_len AS DOUBLE))) AS score
      |  FROM tf, st
      |  ORDER BY score DESC, doc_id LIMIT 20) z""".stripMargin

  // -------------------------------------- BPE-style token count (q66)
  /** The second driver-mandated token counter: BPE-style
    * pretokenization (letter runs | digit runs | single symbol) next
    * to the whitespace count, plus non-space chars per BPE token — the
    * compression-ratio proxy quality filters threshold on. Narrow
    * per-row projection; the regex stays in the Java-regex ∩ RE2
    * subset so both engines tokenize identically. */
  private def q66(s: SparkSession, d: String): DataFrame = {
    // nullif guard: an empty/whitespace-only doc has zero BPE tokens —
    // the ratio must be NULL on both engines, not an ANSI
    // divide-by-zero (Spark) vs inf/nan (DuckDB)
    val nBpe = TextFunctions.bpeTokenCount(col("text"))
    docs0(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws_tokens"),
        nBpe.as("n_bpe_tokens"),
        (TextFunctions.nonSpaceChars(col("text")) /
          nullif(nBpe, lit(0))).as("chars_per_bpe"))
      .sortedOutWide("doc_id")
  }

  private val q66Sql =
    """SELECT doc_id,
      | CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INTEGER) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
      | length(regexp_replace(text, '\s', '', 'g')) / NULLIF(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0) AS chars_per_bpe
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------- token-budget sharding (q70)
  /** Training-shard packing: contiguous 4096-token-quota shards over
    * the corpus in doc_id order, via the DISTRIBUTED prefix sum in
    * [[graft.text.Packing]] (per-partition totals to the driver, two
    * narrow passes — not the single-partition global window the
    * oracle's SQL uses; both produce the identical manifest). */
  private def q70(s: SparkSession, d: String): DataFrame = {
    val withTokens = docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tok"))
    graft.text.Packing.shardManifest(withTokens, "doc_id", "n_tok", budget = 4096L)
  }

  private val q70Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |         sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS before
      |  FROM t)
      |SELECT CAST(floor(before / 4096) AS BIGINT) AS shard,
      |       count(*) AS n_docs,
      |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY 1 ORDER BY shard""".stripMargin

  // ------------------ concat-and-chunk sequence packing (q128)
  /** GPT-style pretraining packing: the corpus token stream in doc_id
    * order cut into EXACT 2048-token sequences, documents crossing
    * boundaries — [[graft.text.Packing.fixedLengthSequences]] (the
    * third member of the packing family: q70 budgets shards, q122 pads
    * batches, this one concatenates). Reported as the histogram a
    * data-loader audit reads: how many sequences span 1, 2, … docs and
    * how many document starts (attention-reset points) each class
    * carries. Distributed prefix sum + one narrow explode; pure
    * integer arithmetic, exactly oracled. */
  private def q128(s: SparkSession, d: String): DataFrame = {
    val withTokens = docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tok"))
    graft.text.Packing.fixedLengthSequences(withTokens, "doc_id", "n_tok", seqLen = 2048L)
      .groupBy("n_docs")
      .agg(count(lit(1)).as("n_seqs"),
           sum(col("n_docs_started")).as("sum_started"))
      .sortedOut("n_docs")
  }

  private val q128Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |         CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok
      |              AS BIGINT) AS before
      |  FROM t),
      |s AS (
      |  SELECT doc_id, before // 2048 AS first_seq,
      |         unnest(range(before // 2048, (before + n_tok - 1) // 2048 + 1)) AS seq_id
      |  FROM c WHERE n_tok > 0),
      |perseq AS (
      |  SELECT seq_id, count(*) AS n_docs,
      |         sum(CASE WHEN first_seq = seq_id THEN 1 ELSE 0 END) AS n_started
      |  FROM s GROUP BY seq_id)
      |SELECT n_docs, count(*) AS n_seqs, CAST(sum(n_started) AS BIGINT) AS sum_started
      |FROM perseq GROUP BY n_docs ORDER BY n_docs""".stripMargin

  // ------------------- TF-IDF keyword extraction (q130)
  /** Top-3 characteristic terms per document (doc_id < 100 probe set)
    * by a df-penalized term frequency — `score = tf·10⁶ div (df+1)`,
    * the INTEGER-exact member of the tf-idf family: `tf·ln(N/df)`
    * ranks near-identically but `ln` is only 1-ulp portable across
    * engines, and an exactly-oracled ranking beats a prettier float
    * one here (the BM25 surface q63/q113 already covers the float
    * scoring regime). df is corpus-wide; selection rides the native
    * [[graft.plans.TopKPerKey]] bounded-heap plan — per (doc,
    * partition) heaps, ONE shuffle of ≤3 rows per doc, no window over
    * the full scored frame. */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persistT // feeds corpus-wide df AND the probe-side scoring
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.where(col("doc_id") < 100)
      .join(dfx, Seq("term"))
      .withColumn("score", expr("(tf * 1000000) div (df + 1)"))
    graft.plans.TopKPerKey.topK(scored, Seq("doc_id"),
        Seq(col("score").desc, col("term").asc), k = 3)
      .select("doc_id", "term", "tf", "df", "score")
      .sortedOut("doc_id", "term")
  }

  private val q130Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df, (tf.tf * 1000000) // (dfx.df + 1) AS score
      |  FROM tf JOIN dfx USING (term) WHERE tf.doc_id < 100),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
      |       CAST(score AS BIGINT) AS score
      |FROM r WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin

  // ------------------------ per-source curation scorecard (q132)
  /** The report a curation run publishes per ingest source: document
    * count, redundant exact-copies (non-survivors of the exact-dedup
    * groups), language spread, total token volume, duplicate fraction.
    * One groupBy over docs left-semi-flagged by the survivor set —
    * both shuffles on well-distributed keys; dup_pct is a single IEEE
    * division. Exactly oracled. */
  private def q132(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val surv = Dedup.exactGroups(docs)
      .select(col("keep_id").as("doc_id"), lit(1L).as("is_surv"))
    docs.join(surv, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_surv").isNull, 1L).otherwise(0L)).as("n_dup"),
           countDistinct(col("lang")).as("n_langs"),
           sum(TextFunctions.tokenCount(col("text")).cast("long")).as("sum_tokens"))
      .withColumn("dup_pct",
        col("n_dup").cast("double") / col("n_docs").cast("double"))
      .sortedOut("source")
  }

  private val q132Sql =
    """WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
      |SELECT d.source,
      |       count(*) AS n_docs,
      |       CAST(sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
      |       CAST(sum(len(regexp_split_to_array(lower(trim(d.text)), '\s+'))) AS BIGINT) AS sum_tokens,
      |       CAST(sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS dup_pct
      |FROM documents d LEFT JOIN surv s USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------- leak-free train/val split (q133)
  /** Eval-split decontamination at split time: documents are split
    * train/val (90/10) BY NEAR-DUP CLUSTER, not by document — the
    * whole minhash component travels together, so a val doc can never
    * have a near-duplicate in train (the self-inflicted leakage a
    * doc-keyed split guarantees on a corpus with duplicates).
    * Composition of oracled machinery: LSH pairs (minEst 0.9) →
    * connected components → component label as the split-hash group
    * ([[graft.ops.Sampling.groupSplit]]). The output carries the
    * CONTRACT column `n_straddling` (clusters seen in >1 split) that
    * both engines compute independently — 0 by construction, and a
    * bug in either side's clustering or split hashing breaks the
    * match. */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashSignatures(docs, k = 32), bands = 4, rowsPerBand = 8, minEst = 0.9)
    val clusters = Dedup.nearDupClusters(pairs)
    val withCl = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("cluster"), col("doc_id")))
    val split = graft.ops.Sampling.groupSplit(withCl, col("cl"),
      Seq("train" -> 0.9, "val" -> 0.1), seed = 42)
    val straddle = split.groupBy("cl")
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1)
      .agg(count(lit(1)).as("n_straddling"))
    split.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cl")).as("n_groups"))
      .crossJoin(broadcast(straddle))
      .sortedOut("split")
  }

  private val q133Sql = {
    val hv = graft.text.Hashing.duckH60("concat('42:', CAST(cl AS VARCHAR))")
    val b0 = (0.9 * (1L << 60).toDouble).toLong
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.9),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b AS a, doc_a AS b FROM p),
       |${componentLabelCtes()},
       |clx AS (
       |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cl
       |  FROM documents d LEFT JOIN labels l USING (doc_id)),
       |sp AS (
       |  SELECT doc_id, cl,
       |         CASE WHEN $hv < $b0 THEN 'train' ELSE 'val' END AS split
       |  FROM clx),
       |str AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_straddling FROM (
       |    SELECT cl FROM sp GROUP BY cl HAVING count(DISTINCT split) > 1) x)
       |SELECT split, count(*) AS n_docs,
       |       CAST(count(DISTINCT cl) AS BIGINT) AS n_groups, n_straddling
       |FROM sp CROSS JOIN str
       |GROUP BY split, n_straddling ORDER BY split""".stripMargin
  }

  // ------------------------------------ mixture sampling (q71)
  /** Training-mix weighting: per-language Bernoulli fractions in one
    * narrow deterministic filter (en 80%, de 30%, others dropped) —
    * the dataset-mixing step, exactly reproducible because the keep
    * decision is a pure hash of the row key. */
  private def q71(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.mixtureSample(docs0(s, d), col("lang"), col("doc_id"),
        Map("en" -> 0.8, "de" -> 0.3))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum(col("doc_id")).as("sum_doc"))
      .orderBy("lang")

  private val q71Sql = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    val en = (0.8 * (1L << 60).toDouble).toLong
    val de = (0.3 * (1L << 60).toDouble).toLong
    s"""SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_doc
       |FROM documents
       |WHERE (lang = 'en' AND $h < $en) OR (lang = 'de' AND $h < $de)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // -------------------- temperature-scaled mixture sampling (q127)
  /** The standard LLM data-mix knob (VERDICT r6 item 6): per-language
    * keep fractions derived from countᵅ at α = 0.5 (up-weights small
    * languages the way multilingual mixes do) with a 1500-row target,
    * layered on the same deterministic hash filter as q71. Exactly
    * oracled: counts are exact int64, the fraction chain is a pinned
    * left fold over strata sorted ascending, and α = 0.5 uses only
    * IEEE-exact sqrt — DuckDB reproduces every threshold bit-for-bit
    * ([[graft.ops.Sampling.temperatureFractions]]). */
  private def q127(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.temperatureMixtureSample(
        docs0(s, d), col("lang"), col("doc_id"), alpha = 0.5, targetRows = 1500L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum(col("doc_id")).as("sum_doc"))
      .orderBy("lang")

  private val q127Sql = {
    val h = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    // 1152921504606846976.0 = 2^60 exactly — the engine's hash space
    s"""WITH counts AS (SELECT lang AS s, count(*) AS n FROM documents GROUP BY lang),
       |z AS (SELECT list_sum(list(sqrt(CAST(n AS DOUBLE)) ORDER BY s)) AS z FROM counts),
       |fr AS (
       |  SELECT s,
       |         CAST(floor(least(1.0, 1500.0 * sqrt(CAST(n AS DOUBLE)) / z / CAST(n AS DOUBLE))
       |                    * 1152921504606846976.0) AS BIGINT) AS thr
       |  FROM counts CROSS JOIN z)
       |SELECT d.lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_doc
       |FROM documents d JOIN fr ON fr.s = d.lang
       |WHERE $h < fr.thr
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ------------------------------ exact substring dedup stats (q72)
  /** Duplicated 13-gram positions per document — exact-substring
    * dedup's curation signal (how much of a doc is verbatim-shared
    * with the rest of the corpus), plus the flag a cleaning pass
    * would threshold on. Grams ride the md5-60 hash family, so the
    * whole computation is exactly oracled. */
  private def q72(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedNgramStats(docs0(s, d), n = 13)
      .select(col("doc_id"), col("n_grams"), col("n_dup_positions"),
        (col("n_dup_positions") * lit(10) >= col("n_grams") * lit(3)).as("heavy_dup"))
      .sortedOutWide("doc_id")

  private val q72Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_transform(range(1, len(tk) - 11),
      |          i -> CAST(concat('0x', substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15)) AS BIGINT))) AS gh
      |      FROM t WHERE len(tk) >= 13),
      |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |per_doc AS (SELECT doc_id, count(*) AS n_dup_positions FROM g JOIN dup USING (gh) GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(greatest(len(tk) - 12, 0) AS INTEGER) AS n_grams,
      |  CAST(coalesce(n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
      |  coalesce(n_dup_positions, 0) * 10 >= greatest(len(tk) - 12, 0) * 3 AS heavy_dup
      |FROM t LEFT JOIN per_doc ON per_doc.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ------------------------------------ PII-style redaction (q73)
  private def q73(s: SparkSession, d: String): DataFrame =
    docs0(s, d).select(col("doc_id"),
        TextFunctions.matchCount(col("text"), RedactRules(0)._1).as("n_email"),
        TextFunctions.matchCount(col("text"), RedactRules(1)._1).as("n_num"),
        TextFunctions.matchCount(col("text"), RedactRules(2)._1).as("n_name"),
        md5(TextFunctions.redact(col("text"), RedactRules).cast("binary")).as("redacted_hash"))
      .sortedOutWide("doc_id")

  private val q73Sql =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
      | CAST(len(regexp_extract_all(text, '\b[0-9]{4,}\b')) AS INTEGER) AS n_num,
      | CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS INTEGER) AS n_name,
      | md5(regexp_replace(regexp_replace(regexp_replace(text,
      |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |   '\b[0-9]{4,}\b', '<NUM>', 'g'),
      |   '\bcustomer\b', '<NAME>', 'g')) AS redacted_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------- train/test decontamination (q74)
  /** Decontamination against a benchmark set (here: doc_id % 10 = 0
    * stands in for the eval suite): corpus docs sharing any verbatim
    * 13-gram with the benchmark are flagged. Same hashed-gram family
    * as q72, so the whole check is exactly oracled. */
  private def q74(s: SparkSession, d: String): DataFrame = {
    val all = docs0(s, d)
    Dedup.contaminationStats(
        all.where(col("doc_id") % 10 =!= 0),
        all.where(col("doc_id") % 10 === 0), n = 13)
      .sortedOutWide("doc_id")
  }

  private val q74Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_transform(range(1, len(tk) - 11),
      |          i -> CAST(concat('0x', substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15)) AS BIGINT))) AS gh
      |      FROM t WHERE len(tk) >= 13),
      |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0),
      |hits AS (SELECT doc_id, count(*) AS n_bench_hits
      |         FROM g JOIN bench USING (gh) WHERE doc_id % 10 != 0 GROUP BY doc_id)
      |SELECT t.doc_id, CAST(greatest(len(tk) - 12, 0) AS INTEGER) AS n_grams,
      |  CAST(coalesce(n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
      |  coalesce(n_bench_hits, 0) > 0 AS contaminated
      |FROM t LEFT JOIN hits USING (doc_id) WHERE t.doc_id % 10 != 0
      |ORDER BY t.doc_id""".stripMargin

  // ----------------------- repetition quality (Gopher rules) (q75)
  /** Per-doc repetition fractions + the is_repetitive flag
    * ([[graft.text.QualityOps.repetitionStats]]); thresholds chosen to
    * split the fixture corpus non-trivially. */
  private def q75(s: SparkSession, d: String): DataFrame =
    graft.text.QualityOps.repetitionStats(docs0(s, d)).sortedOutWide("doc_id")

  private val q75Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |tok AS (SELECT doc_id, unnest(tk) AS g FROM t),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS g
      |       FROM t WHERE len(tk) >= 2),
      |tc AS (SELECT doc_id, g, count(*) AS c FROM tok GROUP BY 1, 2),
      |tp AS (SELECT doc_id, max(c) AS top_tok, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS nd_tok FROM tc GROUP BY 1),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |bp AS (SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg, count(*) AS nd_bg FROM bc GROUP BY 1)
      |SELECT doc_id,
      |  top_tok / n_tok AS top_token_frac,
      |  1 - nd_tok / n_tok AS dup_token_frac,
      |  top_bg / n_bg AS top_bigram_frac,
      |  (top_tok / n_tok > 0.12 OR 1 - nd_tok / n_tok > 0.6 OR top_bg / n_bg > 0.06) AS is_repetitive
      |FROM tp JOIN bp USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------- vocabulary build + encode (q79)
  /** [[graft.text.Vocab]]: deterministic top-30 vocabulary, documents
    * re-encoded as id arrays (OOV → -1, positions preserved), per-doc
    * OOV rate — the tokenize-for-training step after curation. The id
    * array is exported comma-joined: arrow renders Spark and DuckDB
    * list types with different inner field names, so a raw list column
    * can never type-match the oracle. */
  private def q79(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    graft.text.Vocab.encode(docs, graft.text.Vocab.build(docs, maxSize = 30))
      .select(col("doc_id"),
        array_join(col("ids").cast("array<string>"), ",").as("ids"),
        col("n_tokens"), col("n_oov"), col("oov_rate"))
      .sortedOutWide("doc_id")
  }

  private val q79Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |gi AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t),
      |g AS (SELECT doc_id, i, tk[i] AS token FROM gi),
      |vc AS (SELECT token, count(*) AS n FROM g GROUP BY token),
      |vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS INTEGER) AS id
      |          FROM vc ORDER BY n DESC, token LIMIT 30),
      |enc AS (SELECT doc_id,
      |          array_to_string(list(CAST(coalesce(id, -1) AS INTEGER) ORDER BY i), ',') AS ids,
      |          count(*) AS n_tokens,
      |          CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      |        FROM g LEFT JOIN vocab USING (token) GROUP BY doc_id)
      |SELECT doc_id, ids, n_tokens, n_oov, n_oov / n_tokens AS oov_rate
      |FROM enc ORDER BY doc_id""".stripMargin

  // ------------------- Count-Min sketch heavy hitters (q81)
  /** [[graft.functions.CountMin.heavyHitters]] over the token stream:
    * exact top-10 tokens plus the CMS two-sided estimate contract
    * (q46/q55 sketch pattern — the noisy estimate stays out of the
    * hashed columns; the oracle asserts the booleans). At ε = 1e-4
    * the sketch width (2/ε) dwarfs the fixture vocabulary, so the
    * contract is deterministic, not probabilistic, at every SF. */
  private def q81(s: SparkSession, d: String): DataFrame =
    graft.functions.CountMin.heavyHitters(
        docs0(s, d).select(explode(TextFunctions.tokens(col("text"))).as("tok")),
        "tok", k = 10)
      .sortedOut(col("exact_n").desc, col("tok"))

  private val q81Sql =
    """SELECT tok, count(*) AS exact_n, true AS est_at_least_exact, true AS est_within_eps
      |FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents) u
      |GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 10""".stripMargin

  // -------------------------- standing signature index probe (q86)
  /** q57's corpus-vs-batch candidate stage served from the STANDING
    * [[graft.dedup.SignatureIndex]]: the corpus (19/20 of docs) is
    * materialized as bucketed tables, the 5% batch probes it — the
    * bucketed layout means the index side never exchanges
    * (SignatureIndexSpec pins that plan shape); only the arriving
    * batch shuffles into the index's bucketing. Output is the verified
    * candidate pair list, exactly the oracle's candc/estc stage.
    *
    * Cardinality note: this output stays on the single-task
    * [[ParityQueries.sortedOut]] DELIBERATELY — it is O(probe batch),
    * and the incremental-dedup contract keeps arriving batches small
    * relative to the corpus (here 5%). A range sort would re-execute
    * the zero-Exchange probe join in its boundary-sampling pass (the
    * measured 2× this convention exists to avoid). */
  private def q86(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val sigs = Dedup.minhashSignatures(docs, k = 32).persistT
    val spec = graft.dedup.SignatureIndex.Spec(bands = 4, rowsPerBand = 8, buckets = 8)
    // build the index ONCE per (session, sf) — the serving contract is
    // "maintained once, probed by every arriving batch", so the timed
    // surface is the PROBE; name is per-sf so switching fixtures can
    // never probe a stale corpus (cross-session leftovers are handled
    // by write's dropStale). Index = 95% of docs, batch = 5% — the
    // corpus >> batch shape the operator exists for (same split as q57)
    val name = "q86_sigidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    // both index tables must exist — a write that died between the
    // banded and sigs saves must be retried, not skipped forever
    if (!s.catalog.tableExists(name + "_banded") || !s.catalog.tableExists(name + "_sigs"))
      graft.dedup.SignatureIndex.write(sigs.where(col("doc_id") % 20 =!= 0), name, spec)
    ParityQueries.sortedOut(
      graft.dedup.SignatureIndex.probe(s, sigs.where(col("doc_id") % 20 === 0),
        name, spec, minEst = 0.9),
      col("doc_a"), col("doc_b"))
  }

  private val q86Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |bb AS (SELECT * FROM banded WHERE doc_id % 20 != 0),
       |ba AS (SELECT * FROM banded WHERE doc_id % 20 = 0),
       |szb AS (SELECT b, bh, count(*) AS n, min(doc_id) AS anchor FROM bb GROUP BY b, bh),
       |smallb AS (SELECT b, bh FROM szb WHERE n <= 1000),
       |candc AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM ba x JOIN (SELECT bb.* FROM bb JOIN smallb USING (b, bh)) y USING (b, bh)
       |    UNION ALL
       |    SELECT x.doc_id AS doc_a, szb.anchor AS doc_b
       |    FROM ba x JOIN szb USING (b, bh) WHERE szb.n > 1000)),
       |estc AS (
       |  SELECT doc_a, doc_b,
       |         CAST(list_sum(list_transform(range(1, 33), j -> CASE WHEN sa.sig[j] = sb.sig[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard
       |  FROM candc JOIN sigs sa ON sa.doc_id = candc.doc_a JOIN sigs sb ON sb.doc_id = candc.doc_b)
       |SELECT doc_a, doc_b, est_jaccard FROM estc WHERE est_jaccard >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------- compression-ratio quality signal (q89)
  /** deflate(text)/|text| per document ([[graft.text.DeflateRatio]]) —
    * the character-level quality proxy next to q75's token-level
    * repetition fractions. The ratio value is zlib-implementation-
    * dependent, so the oracle asserts bounded CONTRACTS (the q46/q55
    * sketch discipline): ratio ∈ (0, 1.5] for docs of ≥ 32 chars
    * (deflate's worst case is the ~11-byte header + 5 bytes/16 KiB
    * block over incompressible input, so (n+11)/n ≤ 1.35 from 32
    * chars up), and every doc of ≥ 256 chars compresses below 1.0
    * (word streams over a small vocabulary always do; the sf0.1 sweep
    * showed a 65-char doc CAN sit at ratio ≥ 1.0, which is why the
    * exemption threshold is 256, not 64). Short docs are exempted
    * rather than clamped so an EMPTY doc's NULL ratio can't poison a
    * boolean the oracle asserts as literal true. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val ratio = org.apache.spark.sql.GraftSqlShim.column(
      graft.text.DeflateRatio(
        org.apache.spark.sql.GraftSqlShim.expression(col("text"))))
    // both contracts carry a short-doc exemption: a sub-32-char doc can
    // exceed the 1.5 bound on header overhead alone ((n+11)/n), and an
    // EMPTY doc has a NULL ratio that would poison the boolean where
    // the oracle asserts literal true — `true || null` short-circuits
    docs0(s, d).select(col("doc_id"), col("n_chars"),
        (col("n_chars") < 32 || (ratio > 0.0 && ratio <= 1.5)).as("ratio_in_bounds"),
        (col("n_chars") < 256 || ratio < 1.0).as("compresses"))
      .sortedOutWide("doc_id")
  }

  private val q89Sql =
    """SELECT doc_id, n_chars, true AS ratio_in_bounds, true AS compresses
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------- exact-substring removal + reassembly (q90)
  /** [[Dedup.chunkDedupRemove]] over the corpus: 20-token chunks,
    * cross-document duplicates removed, text reassembled — the surgery
    * step on top of q72's diagnosis. Chunk content travels as md5-60
    * hashes (oracle-reproducible); the reassembled text is exported as
    * its md5 so the hash compare pins every surviving byte without
    * shipping full documents through the dump. */
  private def q90(s: SparkSession, d: String): DataFrame =
    Dedup.chunkDedupRemove(docs0(s, d), w = 20)
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))
      .sortedOutWide("doc_id")

  private val q90Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |n AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 20.0) AS BIGINT) AS nc FROM t WHERE len(tk) >= 1),
      |c AS (SELECT doc_id, tk, unnest(range(nc)) AS pos FROM n),
      |h AS (SELECT doc_id, pos,
      |        array_to_string(tk[pos*20+1 : pos*20+20], ' ') AS chunk,
      |        CAST(concat('0x', substr(md5(array_to_string(tk[pos*20+1 : pos*20+20], ' ')), 1, 15)) AS BIGINT) AS gh
      |      FROM c),
      |d AS (SELECT gh FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |stats AS (SELECT h.doc_id,
      |            count(*) AS n_chunks,
      |            count(d.gh) AS n_dup,
      |            coalesce(string_agg(CASE WHEN d.gh IS NULL THEN h.chunk END, ' ' ORDER BY h.pos), '') AS kept
      |          FROM h LEFT JOIN d ON h.gh = d.gh GROUP BY h.doc_id)
      |SELECT doc_id, CAST(n_chunks AS INTEGER) AS n_chunks,
      |       CAST(n_dup AS INTEGER) AS n_dup_chunks, md5(kept) AS kept_md5
      |FROM stats ORDER BY doc_id""".stripMargin

  // ------------------- per-language quantile quality gate (q93)
  /** Stratified quality filtering — "drop each language's bottom
    * quartile", the form quality gates actually take in corpus curation
    * (a single global threshold over-prunes low-resource languages).
    * Score = avg token length (q25's exact-division contract); the
    * per-language rank position decides survival, so the gate adapts
    * to each language's own score distribution.
    *
    * Determinism: percent_rank is (rank-1)/(N-1) on an ordering made
    * total by the doc_id tie-break — integer rank arithmetic, one IEEE
    * division. Note the floor row of every language has pr = 0 and is
    * always dropped (as is a single-doc language): the gate is strict
    * "survive the bottom quartile", documented rather than patched.
    *
    * Scale shape: one window sort per language partition (the narrow
    * score projection shuffles once on lang; skewed languages ride
    * AQE). At 100 TB the same contract runs as a two-pass
    * approx_percentile(score, 0.25) per lang + broadcast threshold
    * join — the window form is the exact oracled twin. */
  private def q93(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val scored = docs0(s, d).select(col("doc_id"), col("lang"),
      (TextFunctions.nonSpaceChars(col("text")) / size(toks)).as("score"))
    val w = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    scored.withColumn("pr", percent_rank().over(w))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        count(when(col("pr") >= 0.25, 1)).as("n_kept"),
        min(when(col("pr") >= 0.25, col("score"))).as("threshold_score"))
      .sortedOut("lang")
  }

  private val q93Sql =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    length(regexp_replace(text, '\s', '', 'g'))
      |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS score
      |  FROM documents),
      |pr AS (
      |  SELECT lang, score,
      |         percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
      |  FROM scored)
      |SELECT lang, count(*) AS n_total,
      |       count(CASE WHEN pr >= 0.25 THEN 1 END) AS n_kept,
      |       min(CASE WHEN pr >= 0.25 THEN score END) AS threshold_score
      |FROM pr GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------- near-dup graph degree histogram (q95)
  /** Degree distribution of the near-dup candidate graph — the
    * diagnostic run BEFORE cluster resolution: a heavy right tail
    * means hot buckets / boilerplate super-nodes that will over-merge
    * into giant clusters (and blow up pair counts quadratically), so
    * production pipelines gate cluster resolution on this histogram.
    * Degree 0 (docs untouched by any candidate pair) is reported
    * explicitly — "how much of the corpus is even in play" is the
    * first number a curation run reads.
    *
    * Scale shape: pairs carry ids only; two map-side-combined integer
    * aggregations (per-doc degree, then per-degree count); the
    * degree-0 row is a two-scalar broadcast subtraction. */
  private def q95(s: SparkSession, d: String): DataFrame = {
    // deg fans out (the histogram AND the node count), so it persists.
    // The pair set itself no longer does (r16): exploding both
    // endpoints reads the pair stream ONCE straight out of the kernel —
    // the previous two-scan unionAll needed a persisted pair cache
    // (without one the LSH pipeline executed up to 4x, measured 5.8 s
    // vs 2.6 s at sf0.1), and the cache materialization barrier itself
    // cost more than the rollup. Unpersist falls to the ContextCleaner.
    val deg = Dedup.minhashCandidatePairs(
        Dedup.minhashSignatures(docs0(s, d), k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .persistT
    val histo = deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
    val zeroRow = docs0(s, d).agg(count(lit(1)).as("n_total"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .select(lit(0L).as("degree"), (col("n_total") - col("n_nodes")).as("n_docs"))
    histo.unionAll(zeroRow).sortedOut("degree")
  }

  private val q95Sql =
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |p AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.7),
       |deg AS (
       |  SELECT doc_id, count(*) AS degree
       |  FROM (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b AS doc_id FROM p) u
       |  GROUP BY doc_id),
       |h AS (
       |  SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
       |  UNION ALL
       |  SELECT 0 AS degree,
       |         (SELECT count(*) FROM documents) - (SELECT count(*) FROM deg) AS n_docs)
       |SELECT CAST(degree AS BIGINT) AS degree, CAST(n_docs AS BIGINT) AS n_docs
       |FROM h ORDER BY degree""".stripMargin

  // ------------------------- deterministic epoch shuffle (q97)
  /** [[graft.ops.Sampling.epochShuffle]] under the oracle gate: the
    * training-run corpus reorder — seeded hash → shard split → within-
    * shard shuffled order. The oracle pins the EXACT order, not just
    * membership: per shard, md5 of the comma-joined doc_id sequence
    * sorted by (hv, doc_id) must match DuckDB's string_agg replay.
    *
    * The per-shard collect_list here is the VERIFICATION twin only —
    * it buffers a whole shard in one aggregation buffer to pin the
    * order hash. The production path never collects: it is
    * `writeCorpus(..., partitionCols = Seq("shard"), sortCols =
    * Seq("__shuffle_hv"))` — a narrow projection + partitioned sorted
    * write at any scale (same caveat pattern as the exact-percentile
    * twins). */
  private def q97(s: SparkSession, d: String): DataFrame = {
    val sharded = graft.ops.Sampling.epochShuffle(
      docs0(s, d), col("doc_id"), seed = 977, nShards = 8)
    sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("sum_chars"),
           md5(concat_ws(",",
             transform(
               array_sort(collect_list(struct(col("__shuffle_hv"), col("doc_id")))),
               x => x.getField("doc_id").cast("string"))).cast("binary")).as("order_md5"))
      .sortedOut("shard")
  }

  private val q97Sql = {
    val hv = graft.text.Hashing.duckH60("concat('977:', CAST(doc_id AS VARCHAR))")
    s"""WITH h AS (
       |  SELECT doc_id, n_chars, $hv AS hv FROM documents)
       |SELECT hv % 8 AS shard, count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY hv, doc_id)) AS order_md5
       |FROM h GROUP BY shard ORDER BY shard""".stripMargin
  }

  // ----------------------- weighted deterministic sampling (q99)
  /** [[graft.ops.Sampling.weightedSample]] under the oracle gate:
    * keep probability ∝ n_chars (unit weight 1000 chars — docs above
    * 1000 chars are certain keeps), counted per language. The kept
    * set is a pure integer-compare function of (doc_id, n_chars), so
    * DuckDB replays membership exactly. Narrow filter + one
    * aggregation; nothing shuffles but the group-by. */
  private def q99(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.weightedSample(
        docs0(s, d), col("doc_id"), col("n_chars"), unitWeight = 1000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_chars")).as("sum_chars_kept"),
           min(col("doc_id")).as("min_kept_doc"))
      .sortedOut("lang")

  private val q99Sql = {
    val hv = graft.text.Hashing.duckH60("CAST(doc_id AS VARCHAR)")
    val scale = (1L << 60) / 1000L
    s"""SELECT lang, count(*) AS n_kept,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars_kept,
       |       min(doc_id) AS min_kept_doc
       |FROM documents
       |WHERE $hv < least(n_chars, 1000) * $scale
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // -------------------- RAG chunking: sliding windows (q100)
  /** Overlapping sliding-window chunking — the retrieval-embedding
    * prep step (q90's chunks are DISJOINT dedup units; RAG chunks
    * OVERLAP so no answer span is split across chunk boundaries):
    * window 20 tokens, stride 10, chunk count = ceil(nTok/stride),
    * tail chunks run short. One narrow generate per doc — the token
    * array never crosses a shuffle; every chunk's content is pinned
    * by md5 so the oracle verifies byte-exact chunking, not counts.
    * At scale the chunk table is the input to the embedding batch job
    * (mapInPandas) and lands via writeCorpus. */
  private def q100(s: SparkSession, d: String): DataFrame = {
    val w = 20
    val stride = 10
    val tk = TextFunctions.tokens(col("text"))
    val nChunks = floor((size(tk) + lit(stride - 1)).cast(DoubleType) / lit(stride)).cast(LongType)
    docs0(s, d)
      .select(col("doc_id"), tk.as("tk"), nChunks.as("nc"))
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0L), (col("nc") - 1) * stride, lit(stride.toLong))))
      .select(col("doc_id"), col("pos").cast(IntegerType).as("chunk_idx"),
        size(slice(col("tk"), col("col") + 1, lit(w))).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("tk"), col("col") + 1, lit(w))).cast("binary")).as("chunk_md5"))
      .sortedOutWide("doc_id", "chunk_idx")
  }

  private val q100Sql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |n AS (SELECT doc_id, tk, CAST(ceil(len(tk) / 10.0) AS BIGINT) AS nc FROM t),
      |c AS (SELECT doc_id, tk, CAST(unnest(range(nc)) AS BIGINT) AS idx FROM n)
      |SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
      |       CAST(len(tk[idx*10+1 : idx*10+20]) AS INTEGER) AS n_chunk_tokens,
      |       md5(array_to_string(tk[idx*10+1 : idx*10+20], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------- bloom-prefiltered decontamination (q102)
  /** q74's decontamination in the big-benchmark regime
    * ([[Dedup.contaminationStatsBloom]]): a bloom filter over the
    * benchmark grams pre-filters the corpus gram explosion inside
    * codegen before the exact (now shuffle) semi-join verify. Output
    * is identical to q74 by construction — the oracle IS q74's SQL —
    * so the driver compare doubles as the proof that the bloom arm is
    * semantics-free. */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val all = docs0(s, d)
    Dedup.contaminationStatsBloom(
        all.where(col("doc_id") % 10 =!= 0),
        all.where(col("doc_id") % 10 === 0), n = 13)
      .sortedOutWide("doc_id")
  }

  // --------------------- BPE tokenizer: fit + encode (q104)
  /** Real byte-pair-encoding ([[graft.text.Bpe]]): merge table fitted
    * on the corpus itself (distributed type counts, driver-side merge
    * loop), then every document encoded by the native expression. The
    * merge table is engine-side fitted data the oracle can't re-derive,
    * so the contract columns are what BPE guarantees REGARDLESS of the
    * learned merges (q89 discipline): per-pretoken concatenation is
    * lossless, and the token count sits in [n_pretokens, n_chars].
    * n_pretokens itself is exact cross-engine (q66's regex). */
  private def q104(s: SparkSession, d: String): DataFrame = {
    val docs = docs0(s, d)
    val merges = graft.text.Bpe.fit(docs, numMerges = 200)
    val pre = TextFunctions.bpeTokens(col("text"))
    val toks = graft.text.Bpe.encode(col("text"), merges)
    docs.select(col("doc_id"), pre.as("__pre"), toks.as("__toks"))
      .select(col("doc_id"),
        size(col("__pre")).as("n_pretokens"),
        (array_join(col("__toks"), "") === array_join(col("__pre"), ""))
          .as("lossless"),
        size(col("__toks")).between(size(col("__pre")),
          length(array_join(col("__pre"), ""))).as("n_tokens_in_bounds"))
      .sortedOutWide("doc_id")
  }

  private val q104Sql =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_pretokens,
      | true AS lossless, true AS n_tokens_in_bounds
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------- leakage-safe group-held-out split (q106)
  /** [[graft.ops.Sampling.groupSplit]]: train/val/test assigned by
    * hashing the GROUP (here a synthetic domain, doc_id mod 257) so
    * no group straddles the train/test boundary. Exact oracle — the
    * split is a pure md5-60 function of (seed, domain), and the SQL
    * inlines the SAME cumulative hash-space bounds the operator
    * computes (computed once here, shared by both sides, so double
    * rounding can't diverge). */
  private val q106Weights = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
  private val q106Seed = 11
  private def q106(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.groupSplit(
        docs0(s, d).withColumn("domain", col("doc_id") % 257),
        col("domain"), q106Weights, seed = q106Seed)
      .select(col("doc_id"), col("domain"), col("split"))
      .sortedOutWide("doc_id")

  private val q106Sql = {
    val hv = graft.text.Hashing.duckH60(
      s"concat('$q106Seed:', CAST(domain AS VARCHAR))")
    val bounds = q106Weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => (c * (1L << 60).toDouble).toLong)
    s"""WITH d AS (SELECT doc_id, doc_id % 257 AS domain FROM documents),
       |h AS (SELECT doc_id, domain, $hv AS hv FROM d)
       |SELECT doc_id, domain,
       |  CASE WHEN hv < ${bounds(0)} THEN 'train'
       |       WHEN hv < ${bounds(1)} THEN 'val' ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // ------------- linear quality-classifier gate (q112)
  /** Model-based quality filter — the fastText-style classifier gate
    * that follows the heuristic filters in a curation pipeline. Per-doc
    * linear margin over the q25 feature set with PINNED weights (an
    * output of [[graft.ops.LinearModel.fitLogistic]] on a labeled
    * sample — see LinearModelSpec — rounded to exact binary fractions
    * so both engines parse identical doubles); decision = margin > 0.
    * The margin is the LINEAR score, not the sigmoid: per-row IEEE
    * double arithmetic over an identical left-associated expression
    * tree is bit-reproducible cross-engine, while exp() is
    * libm-dependent — the sigmoid stays in the fit. Scale: a pure
    * narrow projection; the model rides the plan as literals. */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    docs0(s, d).select(
        col("doc_id"),
        (nTok.cast(DoubleType) / lit(256.0)).as("x_tokens"),
        (TextFunctions.nonSpaceChars(col("text")) / nTok).as("x_avg_len"),
        (stopHits / nTok).as("x_stop"))
      .select(col("doc_id"),
        graft.ops.LinearModel.margin(q112W,
          Seq(col("x_tokens"), col("x_avg_len"), col("x_stop"))).as("score"))
      .select(col("doc_id"), col("score"), (col("score") > 0).as("keep"))
      .sortedOutWide("doc_id")
  }

  private val q112Sql =
    """SELECT doc_id, score, score > 0 AS keep FROM (
      |  SELECT doc_id,
      |    -1.25 + 2.0 * (CAST(len(toks) AS DOUBLE) / 256.0)
      |          + 0.25 * (length(regexp_replace(text, '\s', '', 'g')) / len(toks))
      |          + -3.5 * (len(list_filter(toks,
      |                      t -> t IN ('the','a','of','and','to','in','is'))) / len(toks))
      |      AS score
      |  FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ------------- standing inverted-index BM25 probe (q113)
  /** q63's ranking served from the STANDING [[graft.text.TextIndex]]:
    * posting lists bucketed by term (probe = bucket-pruned scan of the
    * query's |terms| buckets, never the corpus), df/corpus stats as
    * merge-on-read partials. Same oracle SQL as q63 — the proof the
    * index is a serving-layout change, not a semantics change (the
    * probe reuses q63's exact score tree over identical column types).
    * Build-once-per-(session, sf), like q86: the serving contract is
    * "maintained once, probed per query", so the timed surface is the
    * probe. */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val name = "q113_textidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val spec = graft.text.TextIndex.Spec(buckets = 64)
    // all three tables must exist — a write that died mid-way must be
    // retried, not skipped forever (q86 discipline)
    if (!Seq("_postings", "_termstats", "_stats")
          .forall(sfx => s.catalog.tableExists(name + sfx)))
      graft.text.TextIndex.write(docs0(s, d), name, spec)
    graft.text.TextIndex.probe(s, name, Seq("join", "stream", "vector"), k = 20)
      .withColumnsRenamed(Map("tf0" -> "tf_join", "tf1" -> "tf_stream",
        "tf2" -> "tf_vector"))
  }

  // ------------- text-index retraction probe (q301)
  /** The takedown path on the FOURTH standing-index family
    * ([[graft.text.TextIndex.retract]]): q113's BM25 probe after
    * retracting doc_id % 9 == 4 from the standing index. Posting rows
    * are per-(term, doc), so retraction is FULLY exact — and the probe
    * must get the STATISTICS right, not just the row filter: df and
    * N/avgdl both change when docs leave, and BM25 re-ranks the
    * SURVIVORS (a doc's score moves when its terms' df moves). The
    * oracle proves exactly that: q63's SQL over the corpus WITHOUT the
    * retracted docs, recomputing df/N from scratch. Until [[compact]]
    * reclaims, the probe pays one broadcast anti-join plus a
    * bucket-pruned df correction; the build is once-per-(session, sf)
    * — the timed surface is the probe (q113 discipline). */
  private def q301(s: SparkSession, d: String): DataFrame = {
    val name = "q301_textretidx_" + new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
    val spec = graft.text.TextIndex.Spec(buckets = 64)
    if (!Seq("_postings", "_termstats", "_stats")
          .forall(sfx => s.catalog.tableExists(name + sfx)))
      graft.text.TextIndex.write(docs0(s, d), name, spec)
    if (!s.catalog.tableExists(name + "_retracted"))
      graft.text.TextIndex.retract(s, name,
        docs0(s, d).where(col("doc_id") % 9 === 4).select("doc_id"))
    graft.text.TextIndex.probe(s, name, Seq("join", "stream", "vector"), k = 20)
      .withColumnsRenamed(Map("tf0" -> "tf_join", "tf1" -> "tf_stream",
        "tf2" -> "tf_vector"))
  }

  private val q301Sql =
    q63Sql.replace("FROM documents)", "FROM documents WHERE doc_id % 9 <> 4)")

  // ------------------------------------ per-domain quota cap (q115)
  /** Crawl-curation domain cap: keep at most 10 docs per source, chosen
    * by md5-60 priority — [[graft.ops.Sampling.domainCap]] riding the
    * custom TopKPerKey operator. Same selection as a ranking window
    * (the oracle's formulation) but the shuffle carries ≤ cap rows per
    * (source, partition) instead of every row of every hot domain —
    * the difference between shuffling a bounded digest and shuffling
    * the crawl at 100 TB. */
  private def q115(s: SparkSession, d: String): DataFrame =
    graft.ops.Sampling.domainCap(
        docs0(s, d).select(col("doc_id"), col("source")),
        domain = col("source"), key = col("doc_id"), cap = 10)
      .sortedOutWide("source", "pri")

  private val q115Sql = {
    val h = graft.text.Hashing.duckH60("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, source, pri FROM (
       |  SELECT doc_id, source, $h AS pri,
       |         row_number() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rn
       |  FROM documents) WHERE rn <= 10
       |ORDER BY source, pri""".stripMargin
  }

  // ---------------------------- bigram-LM familiarity scoring (q116)
  /** Language-model-style quality scoring without floats: a bigram LM
    * is "trained" on the 90% split (doc_id % 10 <> 0 — the distinct
    * bigram vocabulary) and every held-out doc is scored by how many of
    * its bigrams the model has seen. n_known/n_bigrams is the familiar
    * integer-safe proxy for LM log-likelihood filtering (CCNet-style
    * perplexity gates): unseen-bigram mass IS the OOV penalty term, and
    * integers hash-match across engines where log-probs cannot.
    *
    * Scale shape: bigrams travel as md5-60 HASHES from the moment they
    * leave the per-row projection (text never crosses a shuffle — q74's
    * discipline); the train vocabulary is distinct-reduced map-side
    * before the one hash-partitioned equi-join; counts fold back
    * per-doc in a map-side-combinable aggregate. The train vocab is
    * O(distinct bigrams) — at corpus scale that is a table, not a
    * broadcast, which is exactly why this is a join and not an IN-list.
    */
  private def q116(s: SparkSession, d: String): DataFrame = {
    // tokens MUST be materialized as a column before bigrams(): inlining
    // the split into the transform lambda makes every element_at
    // re-split the whole text — O(tokens²) regex work per doc (measured
    // 18 s vs 1 s at sf0.1). Hash in the same projection (text never
    // leaves the row) and persist: three consumers below.
    val bg = docs0(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        transform(TextFunctions.bigrams(col("tk")), b => Hashing.h60(b)).as("bghs"))
      .persistT
    val trainVocab = bg.where(col("doc_id") % 10 =!= 0)
      .select(explode(col("bghs")).as("bh")).distinct()
      .withColumn("known", lit(1))
    val evalBg = bg.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), explode(col("bghs")).as("bh"))
    val hits = evalBg.join(trainVocab, Seq("bh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), count(col("known")).as("n_known"),
        countDistinct(col("bh")).as("n_distinct"))
    // left join from the held-out doc list: a short doc with zero
    // bigrams must score (0, 0, 0), not vanish
    bg.where(col("doc_id") % 10 === 0).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .sortedOut("doc_id")
  }

  private val q116Sql =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, CASE WHEN len(tk) >= 2
       |           THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
       |           ELSE [] END AS bgs
       |  FROM d),
       |train AS (
       |  SELECT DISTINCT ${graft.text.Hashing.duckH60("b")} AS bh
       |  FROM (SELECT unnest(bgs) AS b FROM bg WHERE doc_id % 10 <> 0)),
       |ev AS (
       |  SELECT doc_id, ${graft.text.Hashing.duckH60("b")} AS bh
       |  FROM (SELECT doc_id, unnest(bgs) AS b FROM bg WHERE doc_id % 10 = 0)),
       |hits AS (
       |  SELECT ev.doc_id, count(*) AS n_bigrams,
       |         count(t.known) AS n_known, count(DISTINCT ev.bh) AS n_distinct
       |  FROM ev LEFT JOIN (SELECT bh, bh AS known FROM train) t USING (bh)
       |  GROUP BY ev.doc_id)
       |SELECT d.doc_id,
       |       CAST(coalesce(h.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |       CAST(coalesce(h.n_known, 0) AS BIGINT) AS n_known,
       |       CAST(coalesce(h.n_distinct, 0) AS BIGINT) AS n_distinct
       |FROM d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id % 10 = 0
       |ORDER BY doc_id""".stripMargin

  // ---------------------- asymmetric containment pairs (q119)
  /** Quote/wrapper detection: ordered near-dup pairs scored by
    * |grams(a) ∩ grams(b)| / |grams(a)| — the asymmetric relation
    * symmetric Jaccard (q56) misses when a fragment is embedded in a
    * much larger document. [[Dedup.containmentPairs]]: per-doc 5-gram
    * hash sets, df-capped inverted index (boilerplate grams generate
    * df² junk pairs and are dropped — bucketCap discipline), pair
    * counts map-side combined. */
  private def q119(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(docs0(s, d), n = 5, minContain = 0.8,
        minGrams = 10, dfCap = 1000)
      .sortedOutWide("doc_a", "doc_b")

  private val q119Sql = {
    val h = graft.text.Hashing.duckH60("array_to_string(tk[i:i+4], ' ')")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |        unnest(list_transform(range(1, len(tk) - 3), i -> $h)) AS gh
       |      FROM t WHERE len(tk) >= 5),
       |sizes AS (SELECT doc_id, count(*) AS n_a FROM g GROUP BY doc_id),
       |rare AS (SELECT gh FROM g GROUP BY gh HAVING count(*) <= 1000),
       |gi AS (SELECT g.* FROM g JOIN rare USING (gh)),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |           FROM gi a JOIN gi b USING (gh) WHERE a.doc_id <> b.doc_id
       |           GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(n_a AS BIGINT) AS n_a,
       |       CAST(n_common AS BIGINT) AS n_common,
       |       CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
       |FROM common JOIN sizes ON sizes.doc_id = common.doc_a
       |WHERE n_a >= 10
       |  AND CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------- corpus snapshot diff (q121)
  /** Dataset-versioning diff ([[graft.ops.RelationalOps.snapshotDiff]]):
    * v2 is a deterministic re-crawl of the documents table — drops
    * doc_id%17==0, edits the text of doc_id%13==0 (among the kept),
    * discovers new docs (%19==0, shifted ids) — and the diff classifies
    * every id by comparing md5-60 content fingerprints under one full
    * outer join. Only (key, hash) frames move; the rollup is the
    * audit record a versioned corpus publishes per release. */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val base = docs0(s, d)
    val v1 = base.select(col("doc_id"), Hashing.h60(col("text")).as("fp"))
    val kept = base.where(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2-edit")))
          .otherwise(col("text")).as("text"))
    val added = base.where(col("doc_id") % 19 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    val v2 = kept.unionByName(added)
      .select(col("doc_id"), Hashing.h60(col("text")).as("fp"))
    graft.ops.RelationalOps.snapshotDiff(v1, v2, "doc_id", "fp")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .sortedOut("status")
  }

  private val q121Sql = {
    val h = graft.text.Hashing.duckH60("text")
    val h2 = graft.text.Hashing.duckH60("CASE WHEN doc_id % 13 = 0 THEN text || ' v2-edit' ELSE text END")
    s"""WITH v1 AS (SELECT doc_id, $h AS fp1 FROM documents),
       |v2 AS (
       |  SELECT doc_id, $h2 AS fp2
       |  FROM documents WHERE doc_id % 17 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, $h AS fp2
       |  FROM documents WHERE doc_id % 19 = 0),
       |d AS (
       |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
       |         CASE WHEN v1.doc_id IS NULL THEN 'added'
       |              WHEN v2.doc_id IS NULL THEN 'removed'
       |              WHEN fp1 = fp2 THEN 'unchanged'
       |              ELSE 'modified' END AS status
       |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
       |SELECT status, CAST(count(*) AS BIGINT) AS n,
       |       min(doc_id) AS min_id, max(doc_id) AS max_id
       |FROM d GROUP BY status ORDER BY status""".stripMargin
  }

  // ---------------- length-bucketed padded batching (q122)
  /** Padding-efficiency batching for training: docs are routed to a
    * power-of-two length bucket (16..512, oversize truncates to 512),
    * each bucket packs fixed-capacity 4096-token batches of
    * SAME-PADDED docs, and the manifest reports kept vs padded tokens
    * per (bucket, batch) — the waste a loader pays for padding.
    * Complements q70 (exact token-budget shards, no padding model).
    *
    * Shape note: batch assignment is a per-bucket rank window —
    * acceptable because buckets are FEW and the window carries two
    * longs per doc; for extreme single-bucket corpora reuse
    * [[graft.text.Packing.tokenShards]]' distributed prefix sum per
    * bucket instead. Integer div keeps batch ids exact cross-engine. */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val t = docs0(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    val lb = when(col("n_tok") <= 16, 16L).when(col("n_tok") <= 32, 32L)
      .when(col("n_tok") <= 64, 64L).when(col("n_tok") <= 128, 128L)
      .when(col("n_tok") <= 256, 256L).otherwise(512L)
    val w = Window.partitionBy("len_bucket").orderBy("doc_id")
    t.withColumn("len_bucket", lb)
      .withColumn("rn", row_number().over(w))
      .withColumn("batch", expr("(CAST(rn AS BIGINT) - 1) * len_bucket div 4096"))
      .groupBy("len_bucket", "batch")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), col("len_bucket"))).as("kept_tokens"))
      .select(col("len_bucket"), col("batch"), col("n_docs"), col("kept_tokens"),
        (col("n_docs") * col("len_bucket")).as("padded_tokens"),
        (col("n_docs") * col("len_bucket") - col("kept_tokens")).as("waste_tokens"))
      .sortedOut("len_bucket", "batch")
  }

  private val q122Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, n_tok,
      |         CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
      |              WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
      |              WHEN n_tok <= 256 THEN 256 ELSE 512 END AS len_bucket
      |  FROM t),
      |r AS (SELECT *, row_number() OVER (PARTITION BY len_bucket ORDER BY doc_id) AS rn FROM b),
      |x AS (SELECT *, (CAST(rn AS BIGINT) - 1) * len_bucket // 4096 AS batch FROM r)
      |SELECT CAST(len_bucket AS BIGINT) AS len_bucket, CAST(batch AS BIGINT) AS batch,
      |       count(*) AS n_docs,
      |       CAST(sum(least(n_tok, len_bucket)) AS BIGINT) AS kept_tokens,
      |       CAST(count(*) * len_bucket AS BIGINT) AS padded_tokens,
      |       CAST(count(*) * len_bucket - sum(least(n_tok, len_bucket)) AS BIGINT) AS waste_tokens
      |FROM x GROUP BY x.len_bucket, x.batch ORDER BY len_bucket, batch""".stripMargin

  // --------------------- collocation / phrase mining (q123)
  /** PMI-style collocation extraction — the phrase-mining pass a
    * tokenizer-vocabulary or stopword pipeline runs corpus-wide: which
    * adjacent token pairs co-occur far beyond chance. Association
    * score = (n_ab·N·N) / (B·n_a·n_b) (the exp of PMI with unigram
    * probabilities over N tokens and bigram probability over B
    * positions), minimum support 5, top-20.
    *
    * Scale shape: unigram and bigram counts are map-side-combinable
    * aggregates over exploded tokens (q45's precedent — the shuffled
    * unit is a short token, and the count table is vocabulary-sized,
    * orders of magnitude below the corpus); corpus totals ride a 1-row
    * broadcast (BM25 stats pattern); top-20 plans as
    * TakeOrderedAndProject. The score is products/quotients of exact
    * integer counts in one pinned expression — both engines produce
    * identical doubles, so the RANKING and the values hash-match. */
  private def q123(s: SparkSession, d: String): DataFrame = {
    val toks = docs0(s, d)
      .select(explode(TextFunctions.tokens(col("text"))).as("t"))
    val uni = toks.groupBy("t").agg(count(lit(1)).as("n")).persistT
    val bg = docs0(s, d)
      .select(TextFunctions.tokens(col("text")).as("tk"))
      .select(explode(TextFunctions.bigrams(col("tk"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n_ab"))
      .persistT // feeds the B total AND the support-filtered join
    val totals = uni.agg(sum(col("n")).as("n_tokens"))
      .crossJoin(bg.agg(sum(col("n_ab")).as("n_bigrams")))
    val dbl = (c: Column) => c.cast(DoubleType)
    bg.where(col("n_ab") >= 5)
      .withColumn("term_a", split(col("b"), " ").getItem(0))
      .withColumn("term_b", split(col("b"), " ").getItem(1))
      .join(uni.select(col("t").as("term_a"), col("n").as("n_a")), Seq("term_a"))
      .join(uni.select(col("t").as("term_b"), col("n").as("n_b")), Seq("term_b"))
      .crossJoin(broadcast(totals))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((dbl(col("n_ab")) * dbl(col("n_tokens")) * dbl(col("n_tokens"))) /
          (dbl(col("n_bigrams")) * dbl(col("n_a")) * dbl(col("n_b")))).as("score"))
      .orderBy(col("score").desc, col("term_a"), col("term_b"))
      .limit(20)
  }

  private val q123Sql =
    """WITH tk AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents),
      |uni AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(tk) AS t FROM tk) GROUP BY t),
      |bg AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS n_ab
      |  FROM (SELECT unnest(CASE WHEN len(tk) >= 2
      |          THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
      |          ELSE [] END) AS b FROM tk)
      |  GROUP BY b),
      |tot AS (
      |  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS n_tokens,
      |         (SELECT CAST(sum(n_ab) AS BIGINT) FROM bg) AS n_bigrams)
      |SELECT term_a, term_b, n_ab, n_a, n_b, score FROM (
      |  SELECT split_part(b, ' ', 1) AS term_a, split_part(b, ' ', 2) AS term_b,
      |         n_ab, ua.n AS n_a, ub.n AS n_b,
      |         (CAST(n_ab AS DOUBLE) * CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) /
      |           (CAST(n_bigrams AS DOUBLE) * CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS score
      |  FROM bg CROSS JOIN tot
      |  JOIN uni ua ON ua.t = split_part(b, ' ', 1)
      |  JOIN uni ub ON ub.t = split_part(b, ' ', 2)
      |  WHERE n_ab >= 5)
      |ORDER BY score DESC, term_a, term_b LIMIT 20""".stripMargin

  // ------------------ content-defined chunk dedup stats (q124)
  /** [[Dedup.cdcChunks]] corpus diagnosis: per doc, how many of its
    * content-defined chunks also occur in another document. The CDC
    * twin of q72/q90's fixed-grid stats — edit-resilient boundaries
    * mean a near-dup family shares most chunks even when edits shift
    * token positions. Chunk hashes travel (8 bytes), text never
    * crosses a shuffle; the dup-chunk aggregate combines map-side. */
  private def q124(s: SparkSession, d: String): DataFrame = {
    val chunked = Dedup.cdcChunks(docs0(s, d), modulus = 16).persistT
    val g = chunked.select(col("doc_id"), explode(col("chs")).as("ch"))
    val dup = g.groupBy("ch")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("ch")
    val perDoc = g.join(dup, Seq("ch"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
    chunked.select(col("doc_id"), size(col("chs")).cast("long").as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .sortedOut("doc_id")
  }

  /** Oracle uses the window formulation of the same chunking (chunk
    * index = running count of boundaries strictly before the position,
    * chunk content = position-ordered string_agg) — different shape,
    * identical chunks. */
  private val q124Sql = {
    val h = (e: String) => graft.text.Hashing.duckH60(e)
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
       |  FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 1),
       |p0 AS (SELECT doc_id, tk, unnest(range(1, len(tk)+1)) AS i FROM t),
       |p AS (SELECT doc_id, i, tk[i] AS tok,
       |             CASE WHEN ${h("tk[i]")} % 16 = 0 THEN 1 ELSE 0 END AS flag
       |      FROM p0),
       |cx AS (SELECT doc_id, i, tok,
       |         coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY i
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
       |       FROM p),
       |ch AS (SELECT doc_id, cidx, ${h("string_agg(tok, ' ' ORDER BY i)")} AS ch
       |       FROM cx GROUP BY doc_id, cidx),
       |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id),
       |dup AS (SELECT ch FROM ch GROUP BY ch HAVING count(DISTINCT doc_id) >= 2),
       |per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks
       |            FROM ch JOIN dup USING (ch) GROUP BY doc_id)
       |SELECT c.doc_id, n_chunks,
       |       CAST(coalesce(n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks
       |FROM c LEFT JOIN per_doc ON per_doc.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---------------- tokenizer fertility diagnostics (q125)
  /** Tokenizer-selection diagnostics per language: how many BPE-style
    * subword units each whitespace word fragments into (fertility) and
    * how many characters each unit carries — the numbers that decide
    * which tokenizer a corpus should train/serve with, reported from
    * ONE map-side-combinable aggregate pass. Ratios are single
    * divisions of exact integer sums, so the doubles hash-match. */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val dbl = (c: Column) => c.cast(DoubleType)
    docs0(s, d)
      .select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_units"),
        TextFunctions.nonSpaceChars(col("text")).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_units")).as("units"),
        sum(col("n_chars")).as("chars"))
      .select(col("lang"), col("n_docs"), col("words"), col("units"), col("chars"),
        (dbl(col("units")) / dbl(col("words"))).as("fertility"),
        (dbl(col("chars")) / dbl(col("units"))).as("chars_per_unit"))
      .sortedOut("lang")
  }

  private val q125Sql =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_words,
       |    CAST(len(regexp_extract_all(lower(text), '${TextFunctions.BpePattern}')) AS BIGINT) AS n_units,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS words,
       |  CAST(sum(n_units) AS BIGINT) AS units,
       |  CAST(sum(n_chars) AS BIGINT) AS chars,
       |  CAST(sum(n_units) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE) AS fertility,
       |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_units) AS DOUBLE) AS chars_per_unit
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  // ------------- intra-document repetition removal (q134)
  /** Self-repetition trim — the within-document twin of corpus dedup:
    * crawled pages repeat their own boilerplate (nav bars, footers,
    * generation loops), and the standard curation fix is to drop
    * repeated fixed-size token blocks WITHIN each document before any
    * cross-document pass sees it. Per doc: segment into 8-token
    * blocks, keep each block's first occurrence, report the token
    * budget recovered.
    *
    * Scale shape: the entire operator is one narrow projection — block
    * segmentation, first-occurrence filtering (`exists` over the
    * earlier-blocks slice) and token accounting all happen in-row
    * inside whole-stage codegen. ZERO exchanges: at 100 TB this runs
    * at scan speed and composes with any downstream shuffle for free.
    * The O(blocks²) in-row scan is bounded by (doc_len/8)² — for the
    * ≥1 GB pathological page a chunked `cdcChunks`-style hash map
    * would win, but at that length the doc is already past every
    * length gate in the pipeline. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val withBlocks = docs0(s, d)
      .where(size(tk) >= 1)
      .select(col("doc_id"), tk.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        TextFunctions.tokenBlocks(col("tk"), blockLen = 8).as("blocks"))
      .select(col("doc_id"), col("n_tokens"), col("blocks"),
        TextFunctions.firstOccurrences(col("blocks")).as("kept"))
    withBlocks.select(col("doc_id"), col("n_tokens"),
        size(col("blocks")).cast("long").as("n_blocks"),
        size(col("kept")).cast("long").as("n_kept_blocks"),
        aggregate(transform(col("kept"), b => size(split(b, " "))),
          lit(0), (a, x) => a + x).cast("long").as("n_tokens_kept"))
      .sortedOutWide("doc_id")
  }

  private val q134Sql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      |  FROM documents
      |  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1),
      |b AS (
      |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
      |         list_transform(range(0, (len(tk) - 1) // 8 + 1),
      |           i -> array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ')) AS blocks
      |  FROM t),
      |k AS (
      |  SELECT doc_id, n_tokens, blocks,
      |         list_filter(blocks, (bl, i) ->
      |           len(list_filter(list_slice(blocks, 1, i - 1), x -> x = bl)) = 0) AS kept
      |  FROM b)
      |SELECT doc_id, n_tokens,
      |       CAST(len(blocks) AS BIGINT) AS n_blocks,
      |       CAST(len(kept) AS BIGINT) AS n_kept_blocks,
      |       CAST(list_sum(list_transform(kept, bl -> len(string_split(bl, ' ')))) AS BIGINT)
      |         AS n_tokens_kept
      |FROM k ORDER BY doc_id""".stripMargin

  // ------------- n-gram novelty vs the standing corpus (q135)
  /** Incremental-curation novelty gate: for each document of an
    * incoming batch, what fraction of its distinct 5-gram shingles the
    * standing corpus has never seen. Low-novelty batches are re-crawls
    * or syndication and get down-weighted before training; the same
    * statistic drives crawl-frontier scheduling. The inverse of
    * decontamination (q74 asks "seen in the BENCHMARK", this asks
    * "UNSEEN in the corpus").
    *
    * Scale shape: grams travel as md5-60 hashes (8 bytes, text never
    * crosses a shuffle); the anti-join is hash-partitioned on `gh`, so
    * cost is (batch gram set + corpus gram set) through one exchange —
    * the corpus side would be a standing bucketed gram table in
    * production (built once per ingest, not per probe; the
    * SignatureIndex lifecycle). For corpora whose gram set dwarfs the
    * batch, a bloom of corpus grams (q102's tiered pattern, the
    * dedup-append sink's exact shape) resolves "definitely novel"
    * map-side and sends only the ~fpp sliver to the exact anti-join. */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val all = docs0(s, d)
    val corpGrams = Dedup.ngramHashes(all.where(col("doc_id") % 10 =!= 0), n = 5)
      .select("gh").distinct()
    val incGrams = Dedup.ngramHashes(all.where(col("doc_id") % 10 === 0), n = 5)
      .distinct().persistT // feeds both the total and the anti-join
    val novel = incGrams.join(corpGrams, Seq("gh"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    incGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast(DoubleType) /
          col("n_grams").cast(DoubleType)).as("novelty"))
      .sortedOutWide("doc_id")
  }

  private val q135Sql = {
    val h = Hashing.duckH60("array_to_string(tk[i:i+4], ' ')")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |g0 AS (SELECT doc_id,
       |         unnest(list_transform(range(1, len(tk) - 3), i -> $h)) AS gh
       |       FROM t WHERE len(tk) >= 5),
       |g AS (SELECT DISTINCT doc_id, gh FROM g0),
       |corp AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 != 0),
       |inc AS (SELECT doc_id, gh FROM g WHERE doc_id % 10 = 0),
       |nov AS (SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_novel
       |        FROM inc i LEFT JOIN corp c USING (gh)
       |        WHERE c.gh IS NULL GROUP BY i.doc_id),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM inc GROUP BY doc_id)
       |SELECT tot.doc_id, n_grams,
       |       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       |       CAST(coalesce(n_novel, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
       |FROM tot LEFT JOIN nov ON nov.doc_id = tot.doc_id
       |ORDER BY tot.doc_id""".stripMargin
  }

  // ------------- classifier calibration / reliability bins (q139)
  /** Reliability diagram for q112's quality classifier: bucket the
    * corpus by margin half-point bins and report, per bin, how often
    * the q25 quality criterion actually holds — the curve that decides
    * whether a score threshold transfers across sources and where to
    * place the keep/drop cut. One map-side-combinable aggregate pass;
    * counts and rates are exact integers/divisions, the per-bin mean
    * margin is a doc_id-ordered fold, so all doubles hash-match. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val nTok = size(toks)
    val stopHits = TextFunctions.hitCount(toks, TextFunctions.Stopwords)
    val scored = docs0(s, d).select(
      col("doc_id"),
      graft.ops.LinearModel.margin(q112W, Seq(
        nTok.cast(DoubleType) / lit(256.0),
        TextFunctions.nonSpaceChars(col("text")) / nTok,
        stopHits / nTok)).as("score"),
      (nTok >= 5 && (stopHits / nTok) <= lit(0.5)).as("label"))
    scored.withColumn("bin", floor(col("score") * lit(2.0)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        (aggregate(array_sort(collect_list(struct(col("doc_id"), col("score").as("v")))),
          lit(0.0), (a, x) => a + x.getField("v")) /
          count(lit(1)).cast("double")).as("mean_score"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType)).as("pos_rate"),
        col("mean_score"))
      .sortedOut("bin")
  }

  private val q139Sql =
    """WITH s AS (
      |  SELECT doc_id,
      |    -1.25 + 2.0 * (CAST(len(toks) AS DOUBLE) / 256.0)
      |          + 0.25 * (length(regexp_replace(text, '\s', '', 'g')) / len(toks))
      |          + -3.5 * (len(list_filter(toks,
      |                      t -> t IN ('the','a','of','and','to','in','is'))) / len(toks))
      |      AS score,
      |    (len(toks) >= 5 AND len(list_filter(toks,
      |       t -> t IN ('the','a','of','and','to','in','is'))) / len(toks) <= 0.5) AS label
      |  FROM (SELECT *, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |        FROM documents)),
      |b AS (SELECT *, CAST(floor(score * 2.0) AS BIGINT) AS bin FROM s)
      |SELECT bin, count(*) AS n,
      |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
      |  list_sum(list(score ORDER BY doc_id)) / CAST(count(*) AS DOUBLE) AS mean_score
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  // ------------- sequence-length coverage curve (q140)
  /** The max_seq_len decision table: for each candidate context length,
    * what fraction of documents fit untruncated and what fraction of
    * corpus TOKENS survive truncation. This is the one-pass statistic
    * that sizes packing (q128), bucketing (q122) and the training
    * context window. Shape: a 6-way literal-array explode over the
    * per-doc token count (map-side combine to 6 groups), corpus totals
    * ride a 1-row broadcast. */
  private def q140(s: SparkSession, d: String): DataFrame = {
    val lens = Seq(16L, 32L, 64L, 128L, 256L, 512L)
    val t = docs0(s, d)
      .select(TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
    val tot = t.agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"))
    t.select(col("n_tok"), explode(array(lens.map(lit): _*)).as("max_len"))
      .groupBy("max_len")
      .agg(sum(when(col("n_tok") <= col("max_len"), 1L).otherwise(0L)).as("docs_fit"),
        sum(least(col("n_tok"), col("max_len"))).as("tokens_kept"))
      .crossJoin(broadcast(tot))
      .select(col("max_len"), col("docs_fit"), col("tokens_kept"),
        (col("docs_fit").cast(DoubleType) / col("nd").cast(DoubleType)).as("doc_coverage"),
        (col("tokens_kept").cast(DoubleType) / col("nt").cast(DoubleType)).as("token_coverage"))
      .sortedOut("max_len")
  }

  private val q140Sql =
    """WITH t AS (
      |  SELECT CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd, CAST(sum(n_tok) AS BIGINT) AS nt FROM t),
      |x AS (SELECT n_tok, unnest([16, 32, 64, 128, 256, 512]) AS max_len FROM t)
      |SELECT CAST(max_len AS BIGINT) AS max_len,
      |  CAST(sum(CASE WHEN n_tok <= max_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_fit,
      |  CAST(sum(least(n_tok, max_len)) AS BIGINT) AS tokens_kept,
      |  CAST(sum(CASE WHEN n_tok <= max_len THEN 1 ELSE 0 END) AS DOUBLE) / CAST(nd AS DOUBLE) AS doc_coverage,
      |  CAST(sum(least(n_tok, max_len)) AS DOUBLE) / CAST(nt AS DOUBLE) AS token_coverage
      |FROM x CROSS JOIN tot GROUP BY max_len, nd, nt ORDER BY max_len""".stripMargin

  // ------------- cross-source content overlap matrix (q142)
  /** Which ingest sources are re-serving each other's content: for
    * every source pair, the number of distinct 5-gram shingles both
    * contain and the gram-set Jaccard. Syndication networks, mirror
    * hosts and re-crawled snapshots show up as high-overlap pairs —
    * the signal that drives source-level (not doc-level) dedup
    * decisions and crawl-budget allocation.
    *
    * Scale shape: grams travel as md5-60 hashes; (source, gram)
    * distinct is one exchange; the per-gram DISTINCT source set is
    * bounded by |sources| (collect_set after the distinct — never
    * row-multiplied), and the i<j pair expansion happens in-row, so
    * the pair frame is ≤ C(|S|,2) rows per gram BEFORE its groupBy.
    * The per-source size table is |S| rows, broadcast onto the pair
    * aggregate. At 100 TB the only O(corpus) stages are the two
    * hash-partitioned exchanges on `gh`.
    *
    * Source-cardinality bound: the
    * in-row expansion builds ONE C(|srcs|,2)-struct array per gram
    * row — quadratic PER ROW. Measured at |S|=1000 with 50 universal
    * grams: 50.2 s in-row vs 9.0 s for the equivalent self-join on
    * `gh` (which distributes the same 25M pair rows across the
    * shuffle). Beyond ~10³ sources, switch to the join expansion and
    * df-cap the gram set (a gram every source carries identifies
    * nobody — containmentPairs' discipline). At this fixture's
    * |S|=20 the in-row form is the cheaper one (≤190 structs/row,
    * no second shuffle). */
  private def q142(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val gramArr = transform(sequence(lit(1), size(col("tk")) - lit(4)),
      i => Hashing.h60(array_join(slice(col("tk"), i, lit(5)), " ")))
    // ONE exchange (r17): collect_set dedups (source, gh) map-side, so
    // the separate explode+distinct pass is gone; the per-source
    // distinct-gram sizes re-derive from the per-gram source sets
    // (each gram counts once per member source) instead of a second
    // aggregate over the exploded frame.
    val bySrc = docs0(s, d).where(size(tk) >= 5)
      .select(col("source"), tk.as("tk"))
      .select(col("source"), explode(gramArr).as("gh"))
      .groupBy("gh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .persistT // feeds the per-source sizes AND the pair expansion
    // eager fill (the fill-race lesson): the two broadcast size
    // subtrees and the pair aggregate race to fill the cache otherwise
    bySrc.count()
    val sizes = bySrc.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    val pairs = bySrc
      .where(size(col("srcs")) >= 2)
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs")) - i - lit(1)),
          b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast(DoubleType) /
          (col("na") + col("nb") - col("n_shared")).cast(DoubleType)).as("jaccard"))
      .sortedOut("src_a", "src_b")
  }

  private val q142Sql = {
    val h = Hashing.duckH60("array_to_string(tk[i:i+4], ' ')")
    s"""WITH t AS (SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |g AS (SELECT DISTINCT source,
       |         unnest(list_transform(range(1, len(tk) - 3), i -> $h)) AS gh
       |       FROM t WHERE len(tk) >= 5),
       |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_shared
       |      FROM g a JOIN g b USING (gh) WHERE a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
       |FROM p
       |JOIN sizes sa ON sa.source = src_a
       |JOIN sizes sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ------------- Kneser-Ney count-of-counts (q143)
  /** The LM-training statistic behind CCNet-style quality filtering:
    * per language, the bigram count-of-counts n1..n4 (how many distinct
    * bigrams occur exactly once, twice, ...) and the modified
    * Kneser-Ney discounts D1/D2/D3+ they imply (Chen & Goodman 1999:
    * Y = n1/(n1+2·n2), D_k = k - (k+1)·Y·n_{k+1}/n_k). These five
    * numbers per language are what an n-gram LM fit actually needs
    * from a 100 TB corpus — the full count table never leaves the
    * cluster, only its histogram does.
    *
    * Scale shape: bigrams travel as md5-60 hashes (8 bytes); ONE
    * hash-partitioned exchange on (lang, bigram-hash) with map-side
    * combine, then the count table collapses to a |lang|-row histogram
    * in a second map-side-combinable pass. Discount arithmetic is a
    * fixed expression over exact integers (guarded to NULL where a
    * zero count makes D_k undefined), so the doubles hash-match. */
  private def q143(s: SparkSession, d: String): DataFrame = {
    val tk = TextFunctions.tokens(col("text"))
    val bigrams = docs0(s, d).where(size(tk) >= 2)
      .select(col("lang"), tk.as("tk"))
      .select(col("lang"), explode(transform(sequence(lit(1), size(col("tk")) - 1),
        i => Hashing.h60(array_join(slice(col("tk"), i, lit(2)), " ")))).as("bh"))
    val hist = bigrams.groupBy("lang", "bh").agg(count(lit(1)).as("c"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("c") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("c") === 4, 1L).otherwise(0L)).as("n4"))
    val y = col("n1").cast(DoubleType) / (col("n1") + col("n2") * 2).cast(DoubleType)
    def disc(k: Int, nk: Column, nk1: Column): Column =
      when(nk > 0 && col("n1") + col("n2") * 2 > 0,
        lit(k.toDouble) - lit((k + 1).toDouble) * y *
          (nk1.cast(DoubleType) / nk.cast(DoubleType)))
    hist.select(col("lang"), col("n_types"), col("n_tokens"),
        col("n1"), col("n2"), col("n3"), col("n4"),
        disc(1, col("n1"), col("n2")).as("d1"),
        disc(2, col("n2"), col("n3")).as("d2"),
        disc(3, col("n3"), col("n4")).as("d3"))
      .sortedOut("lang")
  }

  private val q143Sql = {
    val h = Hashing.duckH60("array_to_string(tk[i:i+1], ' ')")
    def disc(k: Int, nk: String, nk1: String) =
      s"""CASE WHEN $nk > 0 AND n1 + n2 * 2 > 0
         |  THEN ${k}.0 - ${k + 1}.0 * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 * 2 AS DOUBLE))
         |       * (CAST($nk1 AS DOUBLE) / CAST($nk AS DOUBLE)) END""".stripMargin
    s"""WITH t AS (SELECT lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |b AS (SELECT lang, unnest(list_transform(range(1, len(tk)), i -> $h)) AS bh
       |      FROM t WHERE len(tk) >= 2),
       |c AS (SELECT lang, bh, count(*) AS c FROM b GROUP BY 1, 2),
       |h AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |  CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |  CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM c GROUP BY lang)
       |SELECT lang, n_types, n_tokens, n1, n2, n3, n4,
       |  ${disc(1, "n1", "n2")} AS d1,
       |  ${disc(2, "n2", "n3")} AS d2,
       |  ${disc(3, "n3", "n4")} AS d3
       |FROM h ORDER BY lang""".stripMargin
  }

  // ------------- contamination span localization (q145)
  /** WHERE the benchmark leak sits inside each contaminated document —
    * the surgical complement of q74's whole-doc verdict: per
    * contaminated doc, the first and last token positions covered by
    * a benchmark 13-gram, the hit count and the covered-span fraction.
    * With spans in hand the pipeline can excise the leaked passage
    * (q90's removal machinery) instead of dropping the whole document
    * — at 100 TB the difference between losing 0.01% and 3% of tokens
    * to decontamination.
    *
    * Scale shape: identical to q74 plus an 8-byte position riding next
    * to each gram hash — same single hash-partitioned join against the
    * benchmark gram set (broadcast or bloom-tiered per q102 when the
    * benchmark is large), then a per-doc min/max/count aggregate.
    * Text never crosses a shuffle. */
  private def q145(s: SparkSession, d: String): DataFrame = {
    val n = 13
    val tk = TextFunctions.tokens(col("text"))
    val t = docs0(s, d).where(size(tk) >= n)
      .select(col("doc_id"), tk.as("tk"))
    val gramArr = transform(sequence(lit(1), size(col("tk")) - lit(n - 1)),
      i => Hashing.h60(array_join(slice(col("tk"), i, lit(n)), " ")))
    val grams = t.select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tok"),
      posexplode(gramArr).as(Seq("p0", "gh")))
    val bench = grams.where(col("doc_id") % 10 === 0).select("gh").distinct()
    grams.where(col("doc_id") % 10 =!= 0)
      .join(bench, "gh")
      .groupBy("doc_id")
      .agg(max(col("n_tok")).as("n_tokens"),
           count(lit(1)).as("n_hits"),
           (min(col("p0")) + 1).cast(LongType).as("first_tok"),
           (max(col("p0")) + lit(n)).cast(LongType).as("last_tok"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"), col("first_tok"), col("last_tok"),
        ((col("last_tok") - col("first_tok") + 1).cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("span_frac"))
      .sortedOutWide("doc_id")
  }

  private val q145Sql = {
    val h = Hashing.duckH60("array_to_string(tk[i:i+12], ' ')")
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk FROM documents),
       |g AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
       |        unnest(range(1, len(tk) - 11)) AS p,
       |        unnest(list_transform(range(1, len(tk) - 11), i -> $h)) AS gh
       |      FROM t WHERE len(tk) >= 13),
       |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0)
       |SELECT doc_id, max(n_tok) AS n_tokens, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(min(p) AS BIGINT) AS first_tok,
       |  CAST(max(p) + 12 AS BIGINT) AS last_tok,
       |  CAST(max(p) + 12 - min(p) + 1 AS DOUBLE) / CAST(max(n_tok) AS DOUBLE) AS span_frac
       |FROM g JOIN bench USING (gh)
       |WHERE doc_id % 10 != 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------- Poisson-bootstrap corpus-metric uncertainty (q146)
  /** Error bars for a corpus statistic without a second pass: the
    * Poisson bootstrap (the standard resampling scheme when n is too
    * large to multinomial-sample — each replica weights every doc
    * Poisson(1), here derived DETERMINISTICALLY from md5-60(doc:rep)
    * against precomputed CDF thresholds). 32 replica means of the
    * per-doc token count; the spread of `mean_tok` across replicas IS
    * the sampling distribution — its quantiles are the CI the
    * curation report quotes next to the point estimate.
    *
    * Scale shape: the 32× row expansion collapses map-side into 32
    * groups (sums of integers — no double folds anywhere until the
    * final per-replica division), so the whole operator is one scan
    * with a 32-row shuffle. Thresholds are exact integer literals
    * shared verbatim with the oracle. */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val thr = PoissonThresholds
    val t = docs0(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val u = Hashing.h60(concat(col("doc_id").cast("string"), lit(":"), col("r").cast("string")))
    // built inside-out so the SMALLEST threshold is tested first,
    // mirroring the oracle's CASE arm order exactly
    val w = thr.zipWithIndex.reverse.foldLeft(lit(thr.length.toLong)) { case (acc, (tk, k)) =>
      when(col("u") < lit(tk), k.toLong).otherwise(acc)
    }
    t.select(col("doc_id"), col("n_tok"), explode(sequence(lit(0), lit(31))).as("r"))
      .select(col("r").cast(LongType).as("r"), col("n_tok"), u.as("u"))
      .select(col("r"), col("n_tok"), w.as("w"))
      .groupBy("r")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("n_tok")).as("w_tok"))
      .select(col("r"), col("n_eff"), col("w_tok"),
        (col("w_tok").cast(DoubleType) / col("n_eff").cast(DoubleType)).as("mean_tok"))
      .sortedOut("r")
  }

  private val q146Sql = {
    val h = Hashing.duckH60("CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)")
    val caseW = PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonThresholds.length} END")
    s"""WITH t AS (SELECT doc_id,
       |             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
       |           FROM documents),
       |x AS (SELECT doc_id, n_tok, unnest(range(0, 32)) AS r FROM t),
       |wt AS (SELECT r, n_tok, $caseW AS w
       |       FROM (SELECT doc_id, n_tok, r, $h AS u FROM x))
       |SELECT CAST(r AS BIGINT) AS r, CAST(sum(w) AS BIGINT) AS n_eff,
       |  CAST(sum(w * n_tok) AS BIGINT) AS w_tok,
       |  CAST(sum(w * n_tok) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mean_tok
       |FROM wt GROUP BY r ORDER BY r""".stripMargin
  }

  // ------------- length-curriculum phase assignment (q147)
  /** Curriculum ordering — train on easy (short) documents first:
    * every doc gets its exact global rank under (n_tokens, doc_id) and
    * a tertile phase 0/1/2. The standard sequence-length curriculum
    * (and the template for any scored curriculum: swap n_tokens for a
    * quality margin).
    *
    * Scale shape: the global rank rides
    * [[graft.ops.RelationalOps.globalRowNumber]] — range partition +
    * local sort + a P-long count round — NOT a single-partition
    * `row_number` window (the canonical global-sort OOM cliff). The
    * tertile boundary arithmetic is a broadcast 1-row total; phase =
    * floor((rn-1)·3/N) is double-exact for any corpus below 10^15
    * docs (|p/N − m| ≥ 1/N ≫ half-ulp whenever p/N is not exactly m). */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val t = docs0(s, d).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tok"))
    val ranked = graft.ops.RelationalOps.globalRowNumber(
      t, Seq(col("n_tok").asc, col("doc_id").asc), "rn")
    val tot = t.agg(count(lit(1)).as("nd"))
    ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tok"), col("rn"),
        floor((col("rn") - 1) * 3 / col("nd")).as("phase"))
      .sortedOutWide("doc_id")
  }

  private val q147Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |r AS (SELECT doc_id, n_tok,
      |        CAST(row_number() OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS rn
      |      FROM t),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM t)
      |SELECT doc_id, n_tok, rn,
      |  CAST(floor(CAST((rn - 1) * 3 AS DOUBLE) / CAST(nd AS DOUBLE)) AS BIGINT) AS phase
      |FROM r CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ------------- per-source length-distribution anomaly (q149)
  /** Which sources don't look like the corpus: a chi-square test of
    * each source's token-length histogram against the corpus-wide
    * distribution. A source whose length profile diverges (truncated
    * scrapes, pagination fragments, template spam) fails the test
    * long before eyeballing samples would catch it — the automated
    * "this feed changed shape" alarm next to the schema-drift and
    * embedding-drift (q144) monitors.
    *
    * Scale shape: ONE map-side-combinable pass bins the corpus into a
    * ≤|S|·|bins| count table; every rollup (per-source totals, per-bin
    * totals, grand total, the expected-count grid and the chi-square
    * fold) happens on that tiny frame. Zero-observed (source, bin)
    * cells are restored by the grid join — dropping them would bias
    * chi2 low exactly for the most anomalous sources. Terms fold in
    * bin order, so the doubles hash-match. */
  private def q149(s: SparkSession, d: String): DataFrame = {
    val nTok = TextFunctions.tokenCount(col("text"))
    val bin = when(nTok <= 24, 0).when(nTok <= 48, 1)
      .when(nTok <= 72, 2).when(nTok <= 96, 3).otherwise(4)
    val obs = docs0(s, d).select(col("source"), bin.as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("o"))
      .persistT // four rollups below read it
    val ns = obs.groupBy("source").agg(sum(col("o")).as("ns"))
    // limit(8) cannot truncate (the bin CASE has exactly 5 outcomes);
    // it makes the grid join's build side statically bounded
    val nb = obs.groupBy("bin").agg(sum(col("o")).as("nb")).limit(8)
    val ntot = obs.agg(sum(col("o")).as("n"))
    val e = (col("ns") * col("nb")).cast(DoubleType) / col("n").cast(DoubleType)
    val dev = col("o").cast(DoubleType) - e
    ns.crossJoin(nb)
      .join(obs, Seq("source", "bin"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(ntot))
      .select(col("source"), col("ns"), col("bin"), (dev * dev / e).as("term"))
      .groupBy("source")
      .agg(max(col("ns")).as("n_docs"),
           sort_array(collect_list(struct(col("bin"), col("term")))).as("ts"))
      .select(col("source"), col("n_docs"),
        aggregate(col("ts"), lit(0.0), (acc, v) => acc + v.getField("term")).as("chi2"))
      .withColumn("is_anomalous", col("chi2") > lit(9.488))
      .sortedOut("source")
  }

  private val q149Sql =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |t AS (SELECT source, CASE WHEN n_tok <= 24 THEN 0 WHEN n_tok <= 48 THEN 1
      |        WHEN n_tok <= 72 THEN 2 WHEN n_tok <= 96 THEN 3 ELSE 4 END AS bin FROM d),
      |obs AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS o FROM t GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM obs GROUP BY 1),
      |nb AS (SELECT bin, CAST(sum(o) AS BIGINT) AS nb FROM obs GROUP BY 1),
      |ntot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
      |x AS (SELECT g.source, g.ns, g.bin,
      |        CAST(coalesce(o.o, 0) AS BIGINT) AS o, g.nb, n
      |      FROM (SELECT ns.source, ns.ns, nb.bin, nb.nb FROM ns CROSS JOIN nb) g
      |      LEFT JOIN obs o ON o.source = g.source AND o.bin = g.bin
      |      CROSS JOIN ntot),
      |term AS (SELECT source, ns, bin,
      |    (CAST(o AS DOUBLE) - CAST(ns * nb AS DOUBLE) / CAST(n AS DOUBLE))
      |    * (CAST(o AS DOUBLE) - CAST(ns * nb AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (CAST(ns * nb AS DOUBLE) / CAST(n AS DOUBLE)) AS term
      |  FROM x)
      |SELECT source, max(ns) AS n_docs,
      |  list_sum(list(term ORDER BY bin)) AS chi2,
      |  list_sum(list(term ORDER BY bin)) > 9.488 AS is_anomalous
      |FROM term GROUP BY source ORDER BY source""".stripMargin

  // ------------- LSH parameter planner (q150)
  /** Should we re-band? For each candidate (bands, rows-per-band)
    * config of the 32-perm MinHash family, the expected fraction of
    * the CURRENTLY-CAUGHT near-dup pairs (q29's output) that config
    * would still catch — the S-curve 1-(1-j^r)^b evaluated against
    * the observed pair-similarity distribution, not a textbook grid.
    * The 100 TB use: before re-banding a standing signature index,
    * read off exactly how much recall a cheaper config sacrifices.
    *
    * Exactness: est_jaccard takes only m/32 values, so the pair frame
    * collapses to a ≤10-row histogram first; the S-curve powers are
    * UNROLLED multiplications (j·j·…, left-associated identically in
    * both engines — `pow()` is not bit-portable), and the expected-
    * recall fold runs in est order. */
  private def q150(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(Dedup.minhashSignatures(docs0(s, d), k = 32),
        bands = 4, rowsPerBand = 8, minEst = 0.7)
    val hist = pairs.groupBy("est_jaccard").agg(count(lit(1)).as("n"))
      .agg(sort_array(collect_list(struct(col("est_jaccard"), col("n")))).as("h"),
           sum(col("n")).as("n_pairs"))
      .persistT // one tiny row, read once per candidate config
    def powC(x: Column, k: Int): Column = Iterator.fill(k)(x).reduceLeft(_ * _)
    LshConfigs.map { case (b, r) =>
      val pCatch = (v: Column) =>
        lit(1.0) - powC(lit(1.0) - powC(v.getField("est_jaccard"), r), b)
      hist.select(lit(b).as("bands"), lit(r).as("rows_per_band"), col("n_pairs"),
        (aggregate(col("h"), lit(0.0),
          (acc, v) => acc + pCatch(v) * v.getField("n").cast(DoubleType)) /
          col("n_pairs").cast(DoubleType)).as("expected_recall"))
    }.reduce(_ unionByName _)
      .sortedOut("bands")
  }

  private val q150Sql = {
    def powS(x: String, k: Int): String = Seq.fill(k)(x).mkString("(", " * ", ")")
    val arms = LshConfigs.map { case (b, r) =>
      val p = s"(1.0 - ${powS(s"(1.0 - ${powS("e", r)})", b)})"
      s"""SELECT $b AS bands, $r AS rows_per_band, n_pairs,
         |  list_sum(list($p * CAST(n AS DOUBLE) ORDER BY e)) / CAST(n_pairs AS DOUBLE) AS expected_recall
         |FROM h CROSS JOIN tot GROUP BY n_pairs""".stripMargin
    }
    s"""WITH ${minhashOracleCtes(32, 4, 8, 1000)},
       |pr AS (SELECT est_jaccard AS e FROM est WHERE est_jaccard >= 0.7),
       |h AS (SELECT e, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY e),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_pairs FROM h)
       |${arms.mkString("", "\nUNION ALL\n", "")}
       |ORDER BY bands""".stripMargin
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(
    ("q23_dedup_exact",        q23 _, Some(q23Sql)),
    ("q24_token_count",        q24 _, Some(q24Sql)),
    ("q25_text_quality",       q25 _, Some(q25Sql)),
    ("q26_corpus_stats",       q26 _, Some(q26Sql)),
    ("q27_lang_id",            q27 _, Some(q27Sql)),
    ("q28_jaccard_adjacent",   q28 _, Some(q28Sql)),
    ("q29_minhash_lsh_pairs",  q29 _, Some(q29Sql)),
    ("q30_simhash",            q30 _, Some(q30Sql)),
    ("q31_winnow_fingerprint", q31 _, Some(q31Sql)),
    ("q48_neardup_dedup",      q48 _, Some(q48Sql)),
    ("q56_similarity_join",    q56 _, Some(q56Sql)),
    ("q57_incremental_dedup",  q57 _, Some(q57Sql)),
    ("q60_curation_pipeline",  q60 _, Some(q60Sql)),
    ("q62_stratified_sample",  q62 _, Some(q62Sql)),
    ("q63_bm25_topk",          q63 _, Some(q63Sql)),
    ("q66_bpe_token_count",    q66 _, Some(q66Sql)),
    ("q70_token_shards",       q70 _, Some(q70Sql)),
    ("q71_mixture_sample",     q71 _, Some(q71Sql)),
    ("q72_dup_ngrams",         q72 _, Some(q72Sql)),
    ("q73_redaction",          q73 _, Some(q73Sql)),
    ("q74_decontaminate",      q74 _, Some(q74Sql)),
    ("q75_repetition_quality", q75 _, Some(q75Sql)),
    ("q79_vocab_encode",       q79 _, Some(q79Sql)),
    ("q81_cms_heavy_hitters",  q81 _, Some(q81Sql)),
    ("q86_sig_index_probe",    q86 _, Some(q86Sql)),
    ("q89_compression_quality", q89 _, Some(q89Sql)),
    ("q90_chunk_dedup_remove", q90 _, Some(q90Sql)),
    ("q93_quantile_gate",      q93 _, Some(q93Sql)),
    ("q95_dup_graph_degrees",  q95 _, Some(q95Sql)),
    ("q97_epoch_shuffle",      q97 _, Some(q97Sql)),
    ("q99_weighted_sample",    q99 _, Some(q99Sql)),
    ("q100_rag_chunks",        q100 _, Some(q100Sql)),
    ("q102_bloom_decontaminate", q102 _, Some(q74Sql)),
    ("q104_bpe_encode",        q104 _, Some(q104Sql)),
    ("q106_group_split",       q106 _, Some(q106Sql)),
    ("q112_quality_classifier", q112 _, Some(q112Sql)),
    ("q113_text_index_topk",   q113 _, Some(q63Sql)),
    ("q301_text_retract_probe", q301 _, Some(q301Sql)),
    ("q115_domain_cap",        q115 _, Some(q115Sql)),
    ("q116_bigram_lm",         q116 _, Some(q116Sql)),
    ("q119_containment_pairs", q119 _, Some(q119Sql)),
    ("q121_corpus_diff",       q121 _, Some(q121Sql)),
    ("q122_length_bucketing",  q122 _, Some(q122Sql)),
    ("q123_collocations",      q123 _, Some(q123Sql)),
    ("q124_cdc_chunk_stats",   q124 _, Some(q124Sql)),
    ("q125_tokenizer_fertility", q125 _, Some(q125Sql)),
    ("q127_temperature_mix",   q127 _, Some(q127Sql)),
    ("q128_sequence_packing",  q128 _, Some(q128Sql)),
    ("q130_tfidf_keywords",    q130 _, Some(q130Sql)),
    ("q132_source_scorecard",  q132 _, Some(q132Sql)),
    ("q133_leakfree_split",    q133 _, Some(q133Sql)),
    ("q134_intradoc_dedup",    q134 _, Some(q134Sql)),
    ("q135_ngram_novelty",     q135 _, Some(q135Sql)),
    ("q139_calibration_bins",  q139 _, Some(q139Sql)),
    ("q140_seqlen_coverage",   q140 _, Some(q140Sql)),
    ("q142_source_overlap",    q142 _, Some(q142Sql)),
    ("q143_kn_discounts",      q143 _, Some(q143Sql)),
    ("q145_contamination_spans", q145 _, Some(q145Sql)),
    ("q146_bootstrap_ci",      q146 _, Some(q146Sql)),
    ("q147_curriculum_phases", q147 _, Some(q147Sql)),
    ("q149_source_anomaly",    q149 _, Some(q149Sql)),
    ("q150_lsh_planner",       q150 _, Some(q150Sql)))
}
